package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType}

/** Event-log analytics beyond windows-and-groupbys (EXT tier — the
  * reference has no event surface at all): exact cumulative distinct
  * counting and next-event transition counts, the two product-analytics
  * primitives that are easy to write wrong at scale (a naive cumulative
  * DISTINCT recounts the full history per day — O(days × users) — and a
  * global-window cumsum funnels everything through one task).
  */
object EventStats {

  /** Exact cumulative distinct users per day: one row per distinct event
    * date with that day's NEW user count and the running total of
    * distinct users seen so far (the "cumulative DAU/registered-users"
    * curve).
    *
    * Scale shape — the first-occurrence trick: a user contributes to the
    * cumulative count exactly once, on their FIRST event day, so
    * cumulative-distinct = running SUM of first-appearance counts:
    *   1. min(event day) per user — one shuffle on the user key, the
    *      only corpus-sized exchange;
    *   2. new-user count per first-day — day-sized aggregate;
    *   3. running sum over the tiny day table via the same two-pass
    *      bucketed cumsum as [[Packing.packSequences]] (per-bucket totals
    *      → bounded driver prefix sums → in-bucket window) — no
    *      partition-less window even when "tiny" becomes a decade of
    *      days.
    * Days with events but no new users still appear (new_users = 0).
    */
  def cumulativeDistinctUsers(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      nBuckets: Int = 256
  ): DataFrame = {
    val firstDay = events
      .groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
    val allDays = events.select(to_date(col(tsCol)).as("day")).distinct()
    val perDay = allDays.join(firstDay, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
    runningSum(perDay, datediff(col("day"), lit("1970-01-01")).cast(LongType),
      col("new_users"), "cum_users", nBuckets)
      .select(col("day"), col("new_users"), col("cum_users"))
  }

  /** Next-event transition counts: for each user's event stream ordered
    * by (ts, tieBreak), count every adjacent (from_type → to_type) pair —
    * the Markov transition matrix behind "what do users do after X"
    * analyses and session-path mining.
    *
    * One exchange on the user key (the lead window), then a
    * transition-matrix-sized aggregate (≤ |types|² rows). `tieBreak`
    * must make the per-user order total (an event id), or equal-ts
    * adjacency would be nondeterministic. */
  def transitionCounts(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieBreak: String
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieBreak))
    events
      .select(col(userCol), col(typeCol).as("from_type"),
        col(tsCol), col(tieBreak))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Rolling distinct active users: for each distinct event day, the
    * number of distinct users active in the trailing `windowDays`-day
    * window (inclusive) — the WAU/MAU curve.
    *
    * Rolling COUNT(DISTINCT) does not decompose as a running sum (a user
    * active twice in the window counts once), so the scale shape is
    * contribute-then-dedup: dedup to distinct (user, day) pairs first
    * (the only corpus-sized exchange), replicate each pair to the
    * `windowDays` window-end days it supports (bounded ×window blowup of
    * the already-deduped day table), keep real event days, then a
    * two-phase `countDistinct` per end day. No per-day re-scan of
    * history, no global window. */
  def rollingActiveUsers(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      windowDays: Int = 7
  ): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = events
      .select(col(userCol).as("_user"), to_date(col(tsCol)).as("_day"))
      .distinct()
    val contrib = ud.select(col("_user"),
      explode(sequence(col("_day"),
        date_add(col("_day"), windowDays - 1))).as("day"))
    val realDays = events.select(to_date(col(tsCol)).as("day")).distinct()
    contrib.join(realDays, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("_user")).as("active_users"))
  }

  /** Top event paths: the most frequent length-`len` consecutive
    * event-type sequences across users (the n-gram generalization of
    * [[transitionCounts]] — session-path mining). One user-key exchange
    * for the lead windows; the path table is ≤ |types|^len rows, so the
    * final top-k sort is metadata-sized. Ties broken by path string for
    * determinism. */
  def topPaths(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieBreak: String,
      len: Int = 3,
      k: Int = 10
  ): DataFrame = {
    require(len >= 2, s"path length must be >= 2, got $len")
    require(k >= 1, s"k must be >= 1, got $k")
    // CONTRACT: event types must not contain the '>' delimiter — paths
    // are counted by their rendered string, so "a>b"+"c" and "a"+"b>c"
    // would collide. (Escaping would change the published path format;
    // callers with '>' in type names should pre-map them.)
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieBreak))
    val steps = (0 until len).map {
      case 0 => col(typeCol)
      case i => lead(col(typeCol), i).over(w)
    }
    events
      .select(col(userCol), col(typeCol), col(tsCol), col(tieBreak))
      .withColumn("path", when(steps.last.isNotNull,
        concat_ws(">", steps: _*)))
      .filter(col("path").isNotNull)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** Activity streaks (gaps-and-islands): per user, the count of active
    * days, the number of maximal consecutive-day runs, and the longest
    * run — the "current streak / longest streak" engagement metric.
    *
    * Classic island trick, shaped for scale: dedup to distinct
    * (user, day) pairs (the only corpus-sized exchange), then
    * `epochDay − row_number` inside the per-user window is constant
    * exactly within a consecutive run. Both windows partition by the
    * user key — no global window, and the post-dedup table is at most
    * users × days. */
  def activityStreaks(
      events: DataFrame,
      userCol: String,
      tsCol: String
  ): DataFrame = {
    val dd = events
      .select(col(userCol), to_date(col(tsCol)).as("day"))
      .distinct()
    val w = Window.partitionBy(col(userCol)).orderBy(col("day"))
    dd
      .withColumn("_island",
        datediff(col("day"), lit("1970-01-01")).cast(LongType) -
          row_number().over(w))
      .groupBy(col(userCol), col("_island"))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col(userCol))
      .agg(
        sum(col("_len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("_len")).as("longest_streak"))
  }

  /** Inter-arrival time statistics per event type: for each user's
    * per-type event stream, the gap to the previous same-type event,
    * aggregated to count / mean / min / max seconds — the "how often do
    * users do X" cadence profile.
    *
    * One (user, type)-key exchange for the lag window; gaps are summed
    * as exact long microseconds and divided once at the end (the same
    * finishing arithmetic as the DuckDB oracle, so doubles bit-match).
    * `tieBreak` must totalize the per-key order. */
  def interArrivalStats(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      tieBreak: String
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol), col(tieBreak))
    events
      .select(col(userCol), col(typeCol), col(tsCol), col(tieBreak))
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_gap", col("_us") - lag(col("_us"), 1).over(w))
      .filter(col("_gap").isNotNull)
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        // decimal sum: per-KEY gap sums telescope to (last - first) and
        // can't overflow, but this per-TYPE rollup adds one span per
        // user — 10⁹ users × a month is past Long range. Decimal(38)
        // matches DuckDB's HUGEINT sum exactly; the one final cast to
        // double is the same value both engines produce
        ((sum(col("_gap").cast(DecimalType(38, 0))).cast(DoubleType) /
          count(lit(1))) / lit(1000000.0))
          .as("mean_gap_s"),
        (min(col("_gap")).cast(DoubleType) / lit(1000000.0)).as("min_gap_s"),
        (max(col("_gap")).cast(DoubleType) / lit(1000000.0)).as("max_gap_s"))
  }

  /** Two-proportion A/B z-test over an event log: users are split into
    * arms by `userCol % 2` (a deterministic stand-in for an assignment
    * column), a user converts if they have ≥1 `convType` event with
    * `valueCol > threshold`, and the output is one row of arm sizes,
    * conversion counts/rates, and the pooled two-proportion z-score.
    *
    * One user-key aggregate (the only corpus-sized exchange) reduces the
    * log to per-user conversion flags; everything after is a single
    * 4-long global aggregate and driver-free scalar arithmetic. The z
    * expression tree mirrors the oracle exactly (pooled p̂, left-to-right
    * products, IEEE sqrt), so the double bit-matches. */
  def abTestZ(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      valueCol: String,
      convType: String,
      threshold: Double
  ): DataFrame = {
    val u = events
      .groupBy(col(userCol))
      .agg(max(
        when(col(typeCol) === convType && col(valueCol) > threshold, 1)
          .otherwise(0)).as("_conv"))
      // pmod, not %: Spark's remainder keeps the dividend's sign, so a
      // negative (e.g. signed-hash) user id would land in arm -1 and be
      // silently counted in NEITHER arm
      .withColumn("_arm", pmod(col(userCol), lit(2)))
    val a = u.agg(
      sum(when(col("_arm") === 0, 1).otherwise(0)).as("n0"),
      sum(when(col("_arm") === 1, 1).otherwise(0)).as("n1"),
      sum(when(col("_arm") === 0, col("_conv")).otherwise(0)).as("conv0"),
      sum(when(col("_arm") === 1, col("_conv")).otherwise(0)).as("conv1"))
    val p0 = col("conv0").cast(DoubleType) / col("n0")
    val p1 = col("conv1").cast(DoubleType) / col("n1")
    val pooled = (col("conv0") + col("conv1")).cast(DoubleType) /
      (col("n0") + col("n1"))
    val z = (p1 - p0) /
      sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    a.select(col("n0"), col("n1"), col("conv0"), col("conv1"),
      p0.as("p0"), p1.as("p1"), z.as("z"))
  }

  /** Day-over-day churn: for each event day d (except days with no
    * following event day), the count of users active on d, how many of
    * them returned on d+1, and the churn rate — the complement of
    * next-day retention.
    *
    * ONE corpus-sized exchange: `collect_set` per user both dedups
    * (user, day) and builds the day set (bounded by the calendar — a
    * decade is ~3.7k entries); next-day retention reads straight off
    * the set with `array_contains` — no corpus-sized self-join. The
    * "has a following event day" filter is a LEFT SEMI join against the
    * calendar-bounded distinct-day frame (explicitly broadcast), keeping
    * the whole plan driver-free — no collected In-list anywhere. */
  def dailyChurn(
      events: DataFrame,
      userCol: String,
      tsCol: String
  ): DataFrame = {
    val perDay = events
      .select(col(userCol).as("_u"), to_date(col(tsCol)).as("day"))
      .groupBy(col("_u")).agg(collect_set(col("day")).as("_days"))
      .select(col("_days"), explode(col("_days")).as("day"))
      .select(col("day"),
        array_contains(col("_days"), date_add(col("day"), 1))
          .cast(LongType).as("_ret"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("actives"), sum(col("_ret")).as("retained"))
    val allDays = events.select(to_date(col(tsCol)).as("_next")).distinct()
    perDay
      // ANY later event day qualifies — requiring day+1 specifically to
      // be an event day would silently drop interior 100%-churn days
      // whenever the calendar has a gap, biasing aggregate churn down.
      // The day table is tiny and broadcast, so the inequality semi-join
      // is a broadcast nested loop over (days × days), never corpus-sized
      .join(broadcast(allDays), col("day") < col("_next"), "left_semi")
      .select(
        col("day"),
        col("actives"),
        col("retained"),
        (col("actives") - col("retained")).as("churned"),
        ((col("actives") - col("retained"))
          .cast(DoubleType) / col("actives")).as("churn_rate"))
  }

  /** Running (inclusive) sum of `valueCol` in `orderKey` order, emitted
    * as `outCol` — the generic two-pass bucketed cumsum of
    * [[Packing.packSequences]] (divide-first bucketing, per-bucket totals
    * to bounded driver prefix sums, in-bucket window): exact integer
    * arithmetic, no partition-less window at any size. `orderKey` must be
    * unique per row and integral. Null values are skipped as `sum`
    * skips them, per bucket: a row whose bucket holds only nulls up to
    * it gets null.
    *
    * The bounds aggregate also counts the rows. When the count fits the
    * driver-local row bound ([[StoreCommit.fitsLocal]], the stores'
    * `LocalRows`), the keyed rows are collected once and the same
    * bucketed sums are computed on the driver into a local frame, so a
    * small input's pipeline runs twice instead of three times (bounds,
    * totals, final action). Above the bound the distributed two-pass
    * path runs, with no extra pass. */
  def runningSum(
      df: DataFrame,
      orderKey: Column,
      valueCol: Column,
      outCol: String,
      nBuckets: Int = 256
  ): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val reserved = Seq("_rs_key", "_rs_val", "_rs_bucket")
    require(df.columns.intersect(reserved).isEmpty,
      s"runningSum reserves ${reserved.mkString("/")}; rename first")
    val keyed = df
      .withColumn("_rs_key", orderKey.cast(LongType))
      .withColumn("_rs_val", valueCol.cast(LongType))
    val bounds = keyed.agg(min(col("_rs_key")), max(col("_rs_key")),
      sum(when(col("_rs_key").isNull, 1L).otherwise(0L)), count(lit(1))).collect().head
    if (bounds.isNullAt(0)) return df.withColumn(outCol, lit(null).cast(LongType))
    // a PARTIALLY-null key column would bucket those rows to null and the
    // totals collect below would NPE on the driver with no context — the
    // check rides the same bounds aggregate, no extra pass
    require(bounds.getLong(2) == 0L,
      s"runningSum: orderKey is null on ${bounds.getLong(2)} row(s) — " +
        "the running order is undefined there; filter or coalesce first")
    val (minKey, maxKey) = (bounds.getLong(0), bounds.getLong(1))
    val span =
      try Math.addExact(Math.subtractExact(maxKey, minKey), 1L)
      catch { case _: ArithmeticException => throw new IllegalArgumentException(
        s"order-key span [$minKey, $maxKey] exceeds Long range; rescale the key") }
    val width = math.max(1L, (span - 1L) / nBuckets + 1L)
    if (StoreCommit.fitsLocal(bounds.getLong(3)))
      return runningSumLocal(keyed, df.schema, outCol, minKey, width)
    val bucketed = keyed.withColumn("_rs_bucket",
      expr(s"(_rs_key - ${minKey}L) div ${width}L"))
    val totals = bucketed.groupBy(col("_rs_bucket"))
      // coalesce: a bucket whose values are ALL null sums to null, and
      // getLong would NPE — sum-skips-nulls semantics make 0 the right
      // contribution (the window pass below skips them identically)
      .agg(coalesce(sum(col("_rs_val")), lit(0L)).as("_t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prefixes = {
      var acc = 0L
      (0L until nBuckets.toLong).map { b =>
        val p = b -> acc; acc += totals.getOrElse(b, 0L); p
      }.toMap
    }
    val prefixCol = {
      val entries = prefixes.toSeq.sortBy(_._1)
        .flatMap { case (b, p) => Seq(lit(b), lit(p)) }
      element_at(map(entries: _*), col("_rs_bucket"))
    }
    val w = Window.partitionBy(col("_rs_bucket")).orderBy(col("_rs_key"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn(outCol, sum(col("_rs_val")).over(w) + prefixCol)
      .drop("_rs_key", "_rs_val", "_rs_bucket")
  }

  /** [[runningSum]]'s driver-local path: `keyed` (`schema`'s columns,
    * then `_rs_key` and `_rs_val`) collected once and summed bucket by
    * bucket as the distributed path sums them — the same buckets of
    * `width` keys from `minKey`, each bucket's null-skipping total added
    * to the prefix of the buckets before it, and a row null while its
    * bucket has summed no value yet. Long overflow throws, as `sum`
    * does under ANSI arithmetic. */
  private def runningSumLocal(
      keyed: DataFrame,
      schema: StructType,
      outCol: String,
      minKey: Long,
      width: Long
  ): DataFrame = {
    val (k, v) = (schema.length, schema.length + 1)
    val rows = keyed.collect().sortBy(_.getLong(k))
    def bucket(r: Row): Long = (r.getLong(k) - minKey) / width
    var prefix = 0L // sum of the totals of the buckets before the current one
    var inBucket: Option[Long] = None // current bucket's running sum
    val out = rows.indices.map { i =>
      val r = rows(i)
      if (i > 0 && bucket(r) != bucket(rows(i - 1))) {
        prefix = Math.addExact(prefix, inBucket.getOrElse(0L))
        inBucket = None
      }
      if (!r.isNullAt(v))
        inBucket = Some(Math.addExact(inBucket.getOrElse(0L), r.getLong(v)))
      Row.fromSeq(r.toSeq.take(k) :+ inBucket.fold[Any](null)(Math.addExact(_, prefix)))
    }
    // the sum rides in `_rs_val` so `withColumn` places `outCol` as the
    // distributed path does (appended, or replacing a column of that name)
    StoreCommit.localFrame(keyed.sparkSession,
      schema.add("_rs_val", LongType), out)
      .withColumn(outCol, col("_rs_val"))
      .drop("_rs_val")
  }

  /** Per-user activity quartile assignment: users bucketed 1–4 by how
    * their event count sits against the EXACT global p25/p50/p75 of the
    * per-user count distribution — the "power user vs lurker" segmentation
    * feeding sampling weights and cohort definitions.
    *
    * One user-key aggregate reduces the log to per-user counts; the three
    * boundaries come from [[Quantiles.exactQuantilesGlobal]] (two-pass
    * range shuffle + order statistics — never a value-concentrating
    * sort) and ride back as three literals (bounded driver metadata, the
    * centroid/codebook contract). Bucketing is pure comparisons against
    * interpolated boundaries — `quantile_cont` semantics, bit-matching
    * DuckDB. */
  def activityQuartiles(
      events: DataFrame,
      userCol: String
  ): DataFrame = {
    val uc = events.groupBy(col(userCol)).agg(count(lit(1)).as("n_events"))
    val qs = Quantiles.exactQuantilesGlobal(uc, "n_events", Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    uc.select(
      col(userCol),
      col("n_events"),
      (lit(1) +
        (col("n_events") > qs(0.25)).cast("int") +
        (col("n_events") > qs(0.5)).cast("int") +
        (col("n_events") > qs(0.75)).cast("int")).as("quartile"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * MOST RECENT strictly-earlier event of an attributable type by the
    * same user — the marketing-analytics join that is NOT a join here:
    * one per-user window pass carries the last-seen touch forward
    * (`last(..., ignoreNulls)` over rows-between unbounded-preceding to
    * -1), so there is exactly one user-key exchange and no as-of
    * self-join. Conversions with no prior touch surface with NULL
    * attribution (organic), not dropped.
    *
    * The per-column `last` calls share one predicate, so all attributed
    * fields come from the SAME touch row. Lag is exact long
    * microseconds. `tieBreak` must totalize the per-user order (the
    * [[interArrivalStats]] contract).
    *
    * @return one row per conversion: user, conversion id/ts, attributed
    *         touch id/type/ts, `lag_us`.
    */
  def lastTouchAttribution(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      convType: String,
      touchTypes: Seq[String]
  ): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must not be empty")
    require(!touchTypes.contains(convType),
      s"convType $convType cannot also be a touch type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol).isin(touchTypes: _*)
    def lastTouch(c: Column) = last(when(isTouch, c), ignoreNulls = true).over(w)
    events
      .select(col(userCol), col(typeCol), col(tsCol), col(idCol))
      .withColumn("_touch_id", lastTouch(col(idCol)))
      .withColumn("_touch_type", lastTouch(col(typeCol)))
      .withColumn("_touch_ts", lastTouch(col(tsCol)))
      .filter(col(typeCol) === convType)
      .select(
        col(userCol),
        col(idCol).as("conv_id"),
        col(tsCol).as("conv_ts"),
        col("_touch_id").as("touch_id"),
        col("_touch_type").as("touch_type"),
        col("_touch_ts").as("touch_ts"),
        (unix_micros(col(tsCol)) - unix_micros(col("_touch_ts"))).as("lag_us"))
  }
}
