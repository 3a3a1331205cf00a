package graft

import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.functions.{EventStats, Profile, Text}

/** Round-10 analytics additions: activity streaks (gaps-and-islands),
  * inter-arrival cadence, A/B z-test, day-over-day churn, key-skew
  * diagnostic, and PMI collocations — each against a brute-force or
  * hand-computed oracle on tiny frames (the sf oracle rows are the
  * driver's DuckDB gate; these pin semantics and edge cases).
  */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, sec: Int = 0): Timestamp =
    new Timestamp(java.time.LocalDateTime
      .of(2024, 1, day, 0, 0, 0).plusSeconds(sec)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)

  test("activityStreaks: islands split exactly at day gaps") {
    // user 1: days 1,2,3, 5,6, 9  -> 6 active, 3 streaks, longest 3
    // user 2: day 4               -> 1 active, 1 streak, longest 1
    val ev = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(2, 60)), (1L, ts(3)),
      (1L, ts(5)), (1L, ts(6)), (1L, ts(9)),
      (2L, ts(4))
    ).toDF("user_id", "ts")
    val got = EventStats.activityStreaks(ev, "user_id", "ts")
      .orderBy("user_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 6L, 3L, 3L), (2L, 1L, 1L, 1L)))
  }

  test("activityStreaks matches brute force on random activity sets") {
    val rnd = new scala.util.Random(7)
    val pairs = for {
      u <- 1 to 20
      d <- 1 to 28 if rnd.nextDouble() < 0.35
    } yield (u.toLong, ts(d, rnd.nextInt(3600)))
    val got = EventStats.activityStreaks(pairs.toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = pairs.groupBy(_._1).map { case (u, es) =>
      val days = es.map(_._2.toLocalDateTime.getDayOfMonth).distinct.sorted
      val runs = days.foldLeft(List.empty[List[Int]]) {
        case (h :: t, d) if h.head == d - 1 => (d :: h) :: t
        case (acc, d)                               => List(d) :: acc
      }
      u -> ((days.size.toLong, runs.size.toLong, runs.map(_.size).max.toLong))
    }
    assert(got == expected)
  }

  test("interArrivalStats: gaps are same-user same-type, tie-broken") {
    val ev = Seq(
      (1L, "a", ts(1, 0), 1L), (1L, "a", ts(1, 10), 2L), (1L, "a", ts(1, 40), 3L),
      (1L, "b", ts(1, 5), 4L),
      (2L, "a", ts(1, 100), 5L) // single event, no gap
    ).toDF("user_id", "event_type", "ts", "event_id")
    val got = EventStats
      .interArrivalStats(ev, "user_id", "event_type", "ts", "event_id")
      .orderBy("event_type").collect()
    assert(got.length == 1) // only type a has gaps
    val r = got.head
    assert(r.getString(0) == "a" && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 20.0) // mean of 10s, 30s
    assert(r.getDouble(3) == 10.0 && r.getDouble(4) == 30.0)
  }

  test("abTestZ: counts, rates, and z against hand arithmetic") {
    // arm0 = even users {2,4}, arm1 = odd {1,3}; conversion value > 10
    val ev = Seq(
      (1L, "buy", 20.0), (1L, "buy", 5.0), // converts
      (3L, "buy", 3.0),                    // no
      (2L, "buy", 50.0),                   // converts
      (4L, "view", 99.0)                   // wrong type -> no
    ).toDF("user_id", "event_type", "value")
    val r = EventStats.abTestZ(ev, "user_id", "event_type", "value", "buy", 10.0)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 2L, 1L, 1L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.5)
    assert(r.getDouble(6) == 0.0) // identical rates -> z = 0
  }

  test("abTestZ matches the textbook formula on an uneven split") {
    val ev = (1L to 10L).map { u =>
      val conv = u % 2 == 1 && u <= 5 // odd arm: users 1,3,5 convert of 1,3,5,7,9
      (u, "buy", if (conv) 100.0 else 1.0)
    }.toDF("user_id", "event_type", "value")
    val r = EventStats.abTestZ(ev, "user_id", "event_type", "value", "buy", 10.0)
      .collect().head
    val (n0, n1, c0, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert((n0, n1, c0, c1) == ((5L, 5L, 0L, 3L)))
    val p0 = c0.toDouble / n0; val p1 = c1.toDouble / n1
    val p = (c0 + c1).toDouble / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(p * (1.0 - p) * (1.0 / n0 + 1.0 / n1))
    assert(r.getDouble(6) == z)
  }

  test("dailyChurn: last day excluded, zero-return day is 100% churn") {
    // day1: users 1,2 ; day2: user 1 ; day3: user 3 ; day4: nobody from day3... no day5
    val ev = Seq(
      (1L, ts(1)), (2L, ts(1)),
      (1L, ts(2)),
      (3L, ts(3)), (3L, ts(4))
    ).toDF("user_id", "ts")
    val got = EventStats.dailyChurn(ev, "user_id", "ts")
      .orderBy("day").collect().map(r =>
        (r.getDate(0).toLocalDate.getDayOfMonth, r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // day1: 2 active, 1 retained (user1) -> churn 0.5
    // day2: 1 active, 0 retained on day3 -> churn 1.0
    // day3: 1 active, 1 retained          -> churn 0.0
    // day4 has no day5 -> excluded
    assert(got.toSeq == Seq(
      (1, 2L, 1L, 1L, 0.5), (2, 1L, 0L, 1L, 1.0), (3, 1L, 1L, 0L, 0.0)))
  }

  test("keySkew: counts, shares, ties broken by key, top-k truncation") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d"))
      .toDF("k")
    val got = Profile.keySkew(df, "k", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("a", 6L, 6.0 / 13), ("b", 3L, 3.0 / 13), ("c", 3L, 3.0 / 13)))
  }

  test("collocationsPmi: scores match brute force; minCount prunes") {
    val docs = Seq(
      (1L, "x y x y z"),
      (2L, "x y q"),
      (3L, "z q")
    ).toDF("doc_id", "text")
    // tokens: doc1 [x y x y z], doc2 [x y q], doc3 [z q]; N = 10
    // bigrams: (x,y)x3 (y,x)x1 (y,z)x1 (y,q)x1 (z,q)x1
    // counts: x3 y3 z2 q2
    val got = Text.collocationsPmi(docs, minCount = 2L, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("x", "y", 3L, 3.0 * 10 / (3 * 3))))
    // minCount 1 keeps all five bigrams, ordered by score desc then words
    val all = Text.collocationsPmi(docs, minCount = 1L, k = 10).collect()
    assert(all.length == 5)
    val scores = all.map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("stats_moments: power-sum formulas match brute force on sf0.001") {
    val got = Queries.all.find(_.name == "stats_moments").get
      .fn(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val qs = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    qs.foreach { case (flag, vals) =>
      val mean = vals.map(BigDecimal(_)).sum.toDouble / vals.size
      val ex2 = vals.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble / vals.size
      val vr = ex2 - mean * mean
      val (gn, gmean, gsd, gskew, gkurt) = got(flag)
      assert(gn == vals.size)
      assert(gmean == mean, s"$flag mean")
      assert(math.abs(gsd - math.sqrt(vr)) < 1e-12, s"$flag sd")
      // skew/kurt: recompute from exact sums, same tree
      val ex3 = vals.map(v => BigDecimal(v).pow(3)).sum.toDouble / vals.size
      val ex4 = vals.map(v => BigDecimal(v).pow(4)).sum.toDouble / vals.size
      val skew = (ex3 - 3.0 * mean * ex2 + 2.0 * mean * mean * mean) / (vr * math.sqrt(vr))
      val kurt = (ex4 - 4.0 * mean * ex3 + 6.0 * mean * mean * ex2 -
        3.0 * mean * mean * mean * mean) / (vr * vr)
      assert(gskew == skew, s"$flag skew")
      assert(gkurt == kurt, s"$flag kurt")
      val _ = gn
    }
  }

  test("zscore: per-group normalization matches hand arithmetic") {
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 3.0),      // mean 2, sd 1
      (3L, "b", 10.0), (4L, "b", 20.0), (5L, "b", 30.0) // mean 20, pop sd sqrt(200/3)
    ).toDF("event_id", "event_type", "value")
    val got = graft.functions.Normalize
      .zscore(df, "event_type", "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) == -1.0 && got(2L) == 1.0)
    val sdB = math.sqrt(1400.0 / 3 - 400.0)
    assert(got(4L) == 0.0)
    assert(math.abs(got(3L) - (-10.0 / sdB)) < 1e-12)
    assert(math.abs(got(5L) - (10.0 / sdB)) < 1e-12)
  }

  test("zscore: constant group surfaces NULL z, not silence") {
    val df = Seq((1L, "c", 5.0), (2L, "c", 5.0)).toDF("event_id", "event_type", "value")
    val got = graft.functions.Normalize
      .zscore(df, "event_type", "value", Seq("event_id"))
      .collect().map(_.isNullAt(2))
    assert(got.length == 2 && got.forall(identity))
  }

  test("robustScale: discrete quartiles, hand arithmetic, zero-IQR NULL") {
    // group a: values 1..4 → p25=1, p50=2, p75=3 (rank ceil(q·4)), IQR=2
    // group b: constant → IQR 0 → NULL
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0),
      (5L, "b", 7.0), (6L, "b", 7.0)
    ).toDF("event_id", "event_type", "value")
    val got = graft.functions.Normalize
      .robustScale(df, "event_type", "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L) == Some((1.0 - 2.0) / 2.0))
    assert(got(2L) == Some(0.0))
    assert(got(3L) == Some(0.5))
    assert(got(4L) == Some(1.0))
    assert(got(5L).isEmpty && got(6L).isEmpty)
  }

  test("activityQuartiles: buckets against exact interpolated boundaries") {
    // users with counts 1,2,3,4 → boundaries p25=1.75, p50=2.5, p75=3.25
    val rows = (1 to 1).map(_ => 10L) ++ (1 to 2).map(_ => 20L) ++
      (1 to 3).map(_ => 30L) ++ (1 to 4).map(_ => 40L)
    val df = rows.zipWithIndex
      .map { case (u, i) => (i.toLong, u, "x") }
      .toDF("event_id", "user_id", "event_type")
    val got = graft.functions.EventStats.activityQuartiles(df, "user_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(10L) == ((1L, 1)))
    assert(got(20L) == ((2L, 2)))
    assert(got(30L) == ((3L, 3)))
    assert(got(40L) == ((4L, 4)))
  }

  test("rankTransform: percent_rank tie semantics, join-back preserves rows") {
    // values 10,20,20,30 → below-counts 0,1,1,3 → pct 0, 1/3, 1/3, 1
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 30.0))
      .toDF("event_id", "value")
    val got = graft.functions.Normalize
      .rankTransform(df, "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0 / 3, 3L -> 1.0 / 3, 4L -> 1.0))
  }

  test("rankTransform: all-identical values rank 0; partition-invariant") {
    val same = Seq((1L, 5.0), (2L, 5.0)).toDF("event_id", "value")
    val g1 = graft.functions.Normalize.rankTransform(same, "value", Seq("event_id"))
      .collect().map(_.getDouble(2))
    assert(g1.toSeq == Seq(0.0, 0.0))
    val df = (1L to 100L).map(i => (i, (i % 13).toDouble)).toDF("event_id", "value")
    val a = graft.functions.Normalize.rankTransform(df.repartition(1), "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = graft.functions.Normalize.rankTransform(df.repartition(17), "value", Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b)
  }

  test("quantizeInt8: scale from max-abs, round-half-up, zero vector flagged") {
    val df = Seq(
      (1L, Seq(2.0f, -4.0f, 1.0f)),   // maxabs 4 → scale 31.75
      (2L, Seq(0.0f, 0.0f))            // zero vector → scale 0, q zeros
    ).toDF("vec_id", "embedding")
    val got = graft.functions.Normalize.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id")
      .as[(Long, Seq[Int], Double)].collect()
    // q = floor(v*31.75 + 0.5): 2→floor(64.0)=64, -4→-127, 1→floor(32.25)=32
    assert(got(0) == ((1L, Seq(64, -127, 32), 31.75)))
    assert(got(1) == ((2L, Seq(0, 0), 0.0)))
    // extremes stay in int8 range
    assert(got.flatMap(_._2).forall(q => q >= -127 && q <= 127))
  }

  test("lastTouchAttribution: latest prior touch, organic NULL, conv excluded as touch") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 10L, "click", 0.0),
      (2L, ts(5), 10L, "view", 0.0),
      (3L, ts(9), 10L, "purchase", 1.0),  // → view@5, lag 4 min
      (4L, ts(12), 10L, "purchase", 1.0), // → still view@5 (purchase is no touch)
      (5L, ts(1), 20L, "purchase", 1.0),  // organic: no prior touch
      (6L, ts(2), 20L, "click", 0.0)      // later touch must NOT attribute back
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.functions.EventStats.lastTouchAttribution(
      ev, "user_id", "event_type", "ts", "event_id", "purchase", Seq("click", "view"))
      .orderBy("conv_id")
      .select("conv_id", "touch_id", "touch_type", "lag_us").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    assert(got(0).getLong(1) == 2L && got(0).getString(2) == "view"
      && got(0).getLong(3) == 4L * 60000000L)
    assert(got(1).getLong(1) == 2L && got(1).getLong(3) == 7L * 60000000L)
    assert(got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).isNullAt(3))
  }

  test("stopwordFilter: drops only above-share tokens, keeps order") {
    // 10 tokens: "the" x5 (share .5), "cat" x2, "sat" x2, "mat" x1
    val docs = Seq(
      (1L, "the cat sat the mat"),
      (2L, "the the the cat sat")
    ).toDF("doc_id", "text")
    val got = Text.stopwordFilter(docs, maxShare = 0.4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "cat sat mat", 2L), (2L, "cat sat", 3L)))
    // threshold above every share: nothing removed, text unchanged
    val none = Text.stopwordFilter(docs, maxShare = 0.9)
      .orderBy("doc_id").collect().map(r => (r.getString(1), r.getLong(2)))
    assert(none.toSeq == Seq(("the cat sat the mat", 0L), ("the the the cat sat", 0L)))
  }

  test("stopwordFilter: fully-stopped doc yields empty text") {
    val docs = Seq((1L, "x x x"), (2L, "x y")).toDF("doc_id", "text")
    // x share = 4/5 > 0.5 -> stopped; y kept
    val got = Text.stopwordFilter(docs, maxShare = 0.5)
      .orderBy("doc_id").collect().map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("", 3L), ("y", 1L)))
  }

  test("collocationsPmi: single-token docs contribute no bigrams") {
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val got = Text.collocationsPmi(docs, 1L, 10).collect()
    assert(got.length == 1)
    // N counts the solo token too: N=3, c(a,b)=1, c(a)=1, c(b)=1 -> 3.0
    assert(got.head.getDouble(3) == 3.0)
  }
}
