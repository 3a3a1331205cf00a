package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Sessions
import graft.streaming.StreamSessions

/** Top-level row type: Spark encoders cannot synthesize inner classes. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

/** Sessionization: batch window-based operator, and its Structured
  * Streaming twin via session_window over a MemoryStream. */
class SessionsStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private lazy val evs = Seq(
    Ev(0, ts(0), 1, 1.0), Ev(1, ts(10), 1, 2.0),  // session 1 of user 1
    Ev(2, ts(55), 1, 3.0),                         // gap 45m -> session 2
    Ev(3, ts(5), 2, 4.0)                           // user 2, one session
  ).toDF()

  test("batch sessionize: gap splits sessions, aggregates per session") {
    val got = Sessions.sessionize(evs, gapMinutes = 30)
    val r = rows(got)
    assert(r.size == 3)
    // user 1 session 1: events 0,1
    assert(r(0) == Seq(1L, 1L, ts(0), ts(10), 2L, 3.0))
    // user 1 session 2: event 2
    assert(r(1) == Seq(1L, 2L, ts(55), ts(55), 1L, 3.0))
    // user 2: event 3
    assert(r(2) == Seq(2L, 1L, ts(5), ts(5), 1L, 4.0))
  }

  test("event exactly at gap boundary stays in the session (batch, > semantics)") {
    val b = Seq(Ev(0, ts(0), 1, 1.0), Ev(1, ts(30), 1, 1.0)).toDF()
    assert(Sessions.sessionize(b, gapMinutes = 30).count() == 1)
  }

  test("streaming sessionize over MemoryStream matches batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(0, ts(0), 1, 1.0), Ev(1, ts(10), 1, 2.0),
      Ev(2, ts(55), 1, 3.0), Ev(3, ts(5), 2, 4.0))
    val q = StreamSessions.sessionize(mem.toDF(), gapMinutes = 30)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .orderBy("user_id", "session_start")
        .select("user_id", "session_start", "n_events", "sum_value")
      assert(rows(got) == Seq(
        Seq(1L, ts(0), 2L, 3.0),
        Seq(1L, ts(55), 1L, 3.0),
        Seq(2L, ts(5), 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming definition also runs in batch mode (one definition, two modes)") {
    val got = StreamSessions.sessionize(evs, gapMinutes = 30)
      .orderBy("user_id", "session_start")
    assert(got.count() == 3)
    assert(rows(got.select("n_events")) == Seq(Seq(2L), Seq(1L), Seq(1L)))
  }
}
