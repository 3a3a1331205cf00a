package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gap-based event sessionization (EXT tier — the reference has no
  * time/stream semantics at all, SURVEY §2.5). Batch analog of Structured
  * Streaming's `session_window(ts, gap)`: the streaming variant in
  * `graft.streaming` shares the same output contract.
  *
  * Plan shape at scale: ONE shuffle on `user_id` serves both window passes
  * and the final aggregation (all three are partitioned by the same key, so
  * Catalyst reuses the exchange); state per user is a sort within the
  * partition — no driver-side anything, skew bounded by per-user event
  * counts.
  */
object Sessions {

  /** Assigns `session_id` (0-based per user) with a new session whenever
    * the gap to the previous event exceeds `gapMinutes`, then aggregates
    * per session. `sumExactScale` — see Grouped.numericApply: sums the
    * `value` column through DECIMAL for cross-engine bit-parity.
    */
  def sessionize(
      events: DataFrame,
      gapMinutes: Int = 30,
      sumExactScale: Option[Int] = Some(2)
  ): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    val isNew = when(
      prevTs.isNull || col("ts") > prevTs + expr(s"INTERVAL $gapMinutes MINUTES"),
      1).otherwise(0)
    val sumValue = sumExactScale match {
      case Some(s) => sum(col("value").cast(DecimalType(18, s))).cast(DoubleType)
      case None    => sum(col("value"))
    }
    events
      .withColumn("_new", isNew)
      .withColumn("session_id",
        sum(col("_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sumValue.as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Corpus-level session distribution summary over [[sessionize]]
    * output: one row with session count, single-event-session count, and
    * exact-sum-derived averages (events per session; duration seconds —
    * durations summed in long microseconds, the only IEEE ops the final
    * divides, written identically in the oracle SQL). The aggregate adds
    * NO exchange beyond sessionize's own: a global one-row reduce over
    * the session table. */
  def sessionStats(
      events: DataFrame,
      gapMinutes: Int = 30
  ): DataFrame = {
    val sess = sessionize(events, gapMinutes)
    val durUs = unix_micros(col("session_end")) - unix_micros(col("session_start"))
    sess.agg(
      count(lit(1)).as("n_sessions"),
      count(when(col("n_events") === 1, 1)).as("n_single_event"),
      sum(col("n_events")).as("total_events"),
      (sum(col("n_events")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
        .as("avg_events"),
      (sum(durUs).cast(DoubleType) / count(lit(1)).cast(DoubleType)
        / lit(1000000.0)).as("avg_duration_sec"),
      (max(durUs).cast(DoubleType) / lit(1000000.0)).as("max_duration_sec"))
  }
}
