package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Join operators beyond Spark's built-ins (EXT tier — the reference has no
  * joins at all, SURVEY §2.5): as-of join and a salt helper for skewed
  * keys. Both are compositions of built-in operators (preference (a) of
  * SURVEY §7.3) — no custom plan node needed.
  */
object Joins {

  /** As-of join: for each left row, attach the greatest `tsCol` of a right
    * row with the same key and right.ts <= left.ts (the "latest prior
    * event" join of feature-attribution pipelines).
    *
    * Implementation: tag and union both sides, then one running-max window
    * per key ordered by (ts, side) with right rows sorting before left
    * rows at equal timestamps (inclusive match). ONE shuffle on the key —
    * versus the naive per-row correlated subquery (O(n·m) re-scans) or an
    * interval cross join. At 100 TB this is the canonical shape: sort
    * within key partitions, constant state (the running max) per key.
    *
    * @return the left rows + `asofCol` (max right ts <= left ts, null if
    *         none), in left's column order.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      asofCol: String
  ): DataFrame = {
    val leftCols = left.columns.toIndexedSeq
    // common shape: key, ts, side tag, then left payload (null on right)
    val payload = leftCols.filter(c => c != key && c != tsCol)
    val taggedLeft = left.select(
      (Seq(col(key), col(tsCol).as("_ts"), lit(1).as("_side")) ++
        payload.map(col)): _*)
    val taggedRight = right.select(
      (Seq(col(key), col(tsCol).as("_ts"), lit(0).as("_side")) ++
        payload.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    taggedLeft.union(taggedRight)
      .withColumn(asofCol, max(when(col("_side") === 0, col("_ts"))).over(w))
      .filter(col("_side") === 1)
      .select((leftCols.map {
        case c if c == tsCol => col("_ts").as(tsCol)
        case c               => col(c)
      } :+ col(asofCol)): _*)
  }

  /** [[asofJoin]] with a staleness bound — the `merge_asof(tolerance=…)`
    * shape: a prior right-side event older than `toleranceSec` seconds is
    * no match (a feature pipeline must not attach last year's signup to
    * today's purchase). Same single-shuffle running-max plan; the
    * tolerance is a post-window null-out, not a join condition, so the
    * plan is IDENTICAL to the unbounded as-of. */
  def asofJoinWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      asofCol: String,
      toleranceSec: Long
  ): DataFrame = {
    require(toleranceSec >= 0, s"tolerance must be non-negative, got $toleranceSec")
    asofJoin(left, right, key, tsCol, asofCol)
      .withColumn(asofCol,
        when(col(asofCol) >=
          col(tsCol) - expr(s"INTERVAL $toleranceSec SECONDS"), col(asofCol)))
  }

  /** FORWARD as-of join: for each left row, the SMALLEST right `tsCol`
    * with the same key and right.ts >= left.ts — the "next following
    * event" direction of merge_asof (time-to-next-purchase, next
    * maintenance window). Mirror image of [[asofJoin]]: same single
    * shuffle on the key, with the running extreme taken over DESCENDING
    * (ts, side) order — right rows sort before left rows at equal
    * timestamps, so the match is inclusive. */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      asofCol: String
  ): DataFrame = {
    val leftCols = left.columns.toIndexedSeq
    val payload = leftCols.filter(c => c != key && c != tsCol)
    val taggedLeft = left.select(
      (Seq(col(key), col(tsCol).as("_ts"), lit(1).as("_side")) ++
        payload.map(col)): _*)
    val taggedRight = right.select(
      (Seq(col(key), col(tsCol).as("_ts"), lit(0).as("_side")) ++
        payload.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts").desc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    taggedLeft.union(taggedRight)
      .withColumn(asofCol, min(when(col("_side") === 0, col("_ts"))).over(w))
      .filter(col("_side") === 1)
      .select((leftCols.map {
        case c if c == tsCol => col("_ts").as(tsCol)
        case c               => col(c)
      } :+ col(asofCol)): _*)
  }

  /** [[asofJoinForward]] with a horizon bound: a following right-side
    * event further than `toleranceSec` seconds AHEAD is no match. Same
    * single-shuffle plan; the bound is a post-window null-out. */
  def asofJoinForwardWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      asofCol: String,
      toleranceSec: Long
  ): DataFrame = {
    require(toleranceSec >= 0, s"tolerance must be non-negative, got $toleranceSec")
    asofJoinForward(left, right, key, tsCol, asofCol)
      .withColumn(asofCol,
        when(col(asofCol) <=
          col(tsCol) + expr(s"INTERVAL $toleranceSec SECONDS"), col(asofCol)))
  }

  /** Bloom-pruned equi-join: build a Bloom filter over the small side's
    * join keys (one tiny aggregate job — the sketch is KBs against
    * `expectedItems` keys), then pre-filter the LARGE side with the native
    * `might_contain` expression BEFORE its shuffle. The exact join then
    * removes the false positives, so the result is EXACTLY the plain join —
    * the bloom only cuts shuffle bytes.
    *
    * At 100 TB this is the difference between shuffling the whole fact
    * table and shuffling only the ~selectivity·(1+fpp) fraction that can
    * match: the classic semi-join reduction, without moving the fact to the
    * dim side. Spark's own InjectRuntimeFilter plants the same shape when
    * its conf is on and thresholds align; this operator makes it explicit
    * and unconditional. Built from the same internal expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain` — both codegen'd,
    * both hashing via xxhash64).
    */
  def bloomPrunedJoin(
      large: DataFrame,
      small: DataFrame,
      largeKey: String,
      smallKey: String,
      expectedItems: Long = 1000000L
  ): DataFrame = {
    import org.apache.spark.sql.graftsql.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val sketch = small.select(Bridge.toColumn(
      new BloomFilterAggregate(
        Bridge.toAnalyzableExpression(xxhash64(col(smallKey))), expectedItems)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // A null sketch means the small side had ZERO rows — the exact join is
    // empty; keep the schema and skip the scan-side work entirely.
    val pruned =
      if (sketch == null) large.filter(lit(false))
      else large.filter(Bridge.toColumn(BloomFilterMightContain(
        Literal(sketch, BinaryType),
        Bridge.toAnalyzableExpression(xxhash64(col(largeKey))))))
    pruned.join(small, col(largeKey) === col(smallKey))
  }

  /** Banded range join: pair each point row with every interval row that
    * contains it (`start <= point <= end`) WITHOUT the nested-loop plan a
    * plain inequality join degenerates to. Spark plans a non-equi join as
    * BroadcastNestedLoopJoin — O(points × intervals) comparisons, the
    * classic scale-killer for "assign events to windows" pipelines.
    *
    * Banding converts it to an equi-join: chop the number line into
    * `bandWidth`-sized bands, band each point once (`point div W`),
    * explode each interval to the bands it overlaps (`start div W` ..
    * `end div W`), hash-join on the band, then apply the exact residual
    * predicate. Each (point, interval) match meets in EXACTLY one band —
    * the point's — so the result needs no dedup. Correct for negative
    * values too: truncating division is monotone, so band(start) <=
    * band(point) <= band(end) whenever the residual can pass.
    *
    * Cost: interval replication is len/W + 1 rows, and the shuffle is an
    * ordinary hash exchange on the band key — pick `bandWidth` near the
    * typical interval length for ~2× replication. At 100 TB both sides
    * partition by band; no broadcast, no nested loop, and skew only where
    * bands are genuinely hot (saltable like any equi-join).
    *
    * Point/start/end columns must be integral (cast timestamps to epoch
    * units first); intervals with `start > end` are dropped as empty.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      bandWidth: Long
  ): DataFrame = {
    require(bandWidth > 0, s"bandWidth must be positive, got $bandWidth")
    val clash = (points.columns ++ intervals.columns).contains("_band")
    require(!clash, "rangeJoin reserves the internal column _band; rename it first")
    val p = points.withColumn("_band", expr(s"$pointCol div ${bandWidth}L"))
    val iv = intervals
      .filter(col(startCol) <= col(endCol))
      .withColumn("_band", explode(sequence(
        expr(s"$startCol div ${bandWidth}L"),
        expr(s"$endCol div ${bandWidth}L"))))
    p.join(iv, Seq("_band"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("_band")
  }

  /** Interval-overlap join: pair every left interval with every right
    * interval it OVERLAPS (`lStart <= rEnd && rStart <= lEnd`,
    * inclusive), optionally also matching on equality keys. The naive
    * plan is a BroadcastNestedLoopJoin (two inequality predicates —
    * O(left × right)); like [[rangeJoin]] this bands both sides into
    * `bandWidth`-sized buckets of the number line and hash-joins on
    * (keys, band), turning it into an ordinary shuffle join.
    *
    * Unlike the point case, an overlapping interval PAIR shares every
    * band their spans both touch — so matches would duplicate. The
    * RESPONSIBILITY-BAND rule dedups exactly: every overlapping pair
    * both contains the overlap's start `max(lStart, rStart)`, and band()
    * is monotone, so both sides explode to band(max(lStart, rStart)) =
    * `greatest(band(lStart), band(rStart))` — keep the match ONLY in
    * that band and each pair survives exactly once, no `distinct`
    * needed.
    *
    * Cost: replication is span/W + 1 rows per interval — pick
    * `bandWidth` near the typical interval length. Bounds must be
    * integral (cast timestamps to epoch units); `start > end` rows are
    * dropped as empty. */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: String,
      lEnd: String,
      rStart: String,
      rEnd: String,
      bandWidth: Long,
      keys: Seq[String] = Nil
  ): DataFrame = {
    require(bandWidth > 0, s"bandWidth must be positive, got $bandWidth")
    val clash = (left.columns ++ right.columns).contains("_band")
    require(!clash, "intervalOverlapJoin reserves the internal column _band; rename it first")
    val overlapCols = (left.columns.toSet -- keys).intersect(right.columns.toSet -- keys)
    require(overlapCols.isEmpty,
      s"non-key columns must be disjoint across sides; shared: ${overlapCols.mkString(", ")}")
    val l = left.filter(col(lStart) <= col(lEnd))
      .withColumn("_band", explode(sequence(
        expr(s"$lStart div ${bandWidth}L"), expr(s"$lEnd div ${bandWidth}L"))))
    val r = right.filter(col(rStart) <= col(rEnd))
      .withColumn("_band", explode(sequence(
        expr(s"$rStart div ${bandWidth}L"), expr(s"$rEnd div ${bandWidth}L"))))
    l.join(r, (keys :+ "_band").toIndexedSeq)
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .filter(col("_band") === greatest(
        expr(s"$lStart div ${bandWidth}L"), expr(s"$rStart div ${bandWidth}L")))
      .drop("_band")
  }

  /** Salted equi-join for skewed keys: replicate the small side
    * `saltBuckets` times, split each skewed large-side key across buckets
    * by a deterministic row hash. AQE's skew-join handles moderate skew at
    * runtime; explicit salting is for the pathological key whose single
    * partition would not fit an executor at all.
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      saltBuckets: Int
  ): DataFrame = {
    val salted = large.withColumn("_salt",
      pmod(xxhash64(large.columns.toIndexedSeq.map(col): _*), lit(saltBuckets.toLong))
        .cast(LongType))
    val replicated = small
      .withColumn("_salt", explode(
        array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
