package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** User sessionization on the `transformWithState` arbitrary-state API
  * (Spark 4's successor to flatMapGroupsWithState: named state variables,
  * first-class EVENT-TIME TIMERS, per-state TTL, RocksDB-backed) — the
  * third implementation of the SAME oracle-checked 6-hour-gap session
  * semantics:
  *
  *   1. batch gaps-and-islands (`events_user_sessions`, DuckDB-verified),
  *   2. streaming `session_window` ([[EventStreams.userSessions]],
  *      StreamingSpec parity with 1),
  *   3. THIS: explicit per-user state + an event-time timer at
  *      last_event + gap — the session closes when the WATERMARK passes
  *      that instant, exactly `session_window`'s close rule, but
  *      spelled with the primitives (so custom close rules — cart
  *      abandonment, SLA breach alerts, auth-session revocation — are a
  *      predicate away where `session_window` is a dead end).
  *
  * Close paths, both append-mode emissions:
  *   - INLINE: a same-user event past the gap closes the open session
  *     and starts the next in one `handleInputRows` call;
  *   - TIMER: `handleExpiredTimer` fires once the watermark passes
  *     last + gap — "no more events can extend this session" made final
  *     the same way the stream-stream outer join finalizes "no match".
  *   Each update DELETES the previous timer and registers the new
  *   last + gap, so exactly one timer per open session exists and a
  *   fired timer always refers to the current state.
  *
  * State bound: one 4-long tuple + one timer per ACTIVE user (cleared on
  * close), the state store's steady size is the concurrently-open
  * session count — independent of stream length. Ordering contract:
  * in-batch rows are re-sorted (ts, event_id); across batches the
  * watermark filter drops below-horizon stragglers (TimeMode.EventTime).
  *
  * StreamingSpec asserts full-row parity with the batch query across
  * mid-session micro-batch splits, with both close paths exercised.
  * Requires the RocksDB state store provider (a transformWithState
  * constraint); the spec wires it per-query.
  */
object TwsSessions {

  /** Microsecond gap mirror of [[EventStreams.SessionGap]]. */
  val GapUs: Long = 6L * 3600 * 1000000

  private def tsOfUs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def usOf(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** (startUs, lastUs, n, sumQ) per open session. */
  private type Sess = (Long, Long, Long, Long)

  private class SessionProcessor extends StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Long, Double),
      (Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] {

    @transient private var sess:
        org.apache.spark.sql.streaming.ValueState[Sess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[Sess]("sess",
        Encoders.product[Sess], TTLConfig.NONE)

    private def closedRow(user: Long, s: Sess) =
      (user, tsOfUs(s._1), tsOfUs(s._2 + GapUs), s._3, s._4 / 1e4)

    /** Timer instant: the first millisecond STRICTLY past last + gap —
      * an event at exactly last + gap still extends (the inclusive
      * session_window boundary), so the close may only finalize once
      * the watermark is provably beyond it.
      */
    private def timerMsOf(s: Sess): Long =
      Math.floorDiv(s._2 + GapUs, 1000L) + 1L

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
        timerValues: TimerValues)
        : Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] = {
      val sorted = rows.toSeq.sortWith((a, b) => {
        val c = a._2.compareTo(b._2)
        c < 0 || (c == 0 && a._3 < b._3)
      })
      val out = scala.collection.mutable.ListBuffer
        .empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      var cur: Option[Sess] = if (sess.exists()) Some(sess.get()) else None
      sorted.foreach { case (_, ts, _, value) =>
        val us = usOf(ts)
        val q = math.floor(value * 1e4 + 0.5).toLong
        cur match {
          // STRICT >: session_window merges an event at EXACTLY
          // last + gap (inclusive-boundary containment, pinned
          // empirically by StreamingSpec's boundary fixture), and the
          // batch oracle mirrors it (new session when ts > lag + gap) —
          // a boundary event extends, it does not close.
          case Some(s) if us > s._2 + GapUs =>
            out += closedRow(user, s) // inline close: gap exceeded
            cur = Some((us, us, 1L, q))
          case Some(s) =>
            // an in-watermark out-of-order event from a LATER micro-batch
            // can precede the open session's start: session_start is
            // MIN(ts), exactly as session_window / the batch oracle report
            cur = Some((math.min(s._1, us), math.max(s._2, us), s._3 + 1, s._4 + q))
          case None =>
            cur = Some((us, us, 1L, q))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        // one live timer per open session: replace, never accumulate
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(timerMsOf(s))
      }
      out.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] = {
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(closedRow(user, s))
      } else Iterator.empty
    }
  }

  /** Per-user burst counter with PER-STATE TTL — the third
    * transformWithState primitive ([[userSessionsTws]] covers named
    * state + event-time timers; this covers [[TTLConfig]]): the counter
    * lives while the user stays WARM (state re-written within `ttl` of
    * its last update, processing time) and is dropped by the state
    * store once the user idles past it — so a post-expiry event starts
    * a fresh run at 1 with no tombstone handling in user code. The
    * cache-expiry semantics (auth sessions, rate-limit windows,
    * presence) that event-time sessionization deliberately does NOT
    * model: wall-clock idleness, not event-time gaps. TTL requires
    * TimeMode.ProcessingTime; emits (user_id, event_id, run_count) per
    * input row, run_count resetting exactly when the state was
    * TTL-dropped — StreamingSpec drives both the warm path (counts
    * survive micro-batch boundaries) and the expiry path (an idle gap
    * past the TTL resets the run).
    *
    * State bound: one LONG per warm user; the TTL is the eviction
    * policy, so steady-state size tracks the ACTIVE population even if
    * the key space is unbounded — the property funnel/session state
    * gets from watermarks, delivered here by the store itself.
    */
  def userBurstCounts(events: DataFrame,
      ttl: java.time.Duration): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new BurstProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF("user_id", "event_id", "run_count")
  }

  private class BurstProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {

    @transient private var cnt:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
        TTLConfig(ttl))

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long)] = {
      // an expired value reads as absent — the reset IS the observable
      var c = if (cnt.exists()) cnt.get() else 0L
      rows.toSeq.sortBy(_._2).map { r =>
        c += 1
        cnt.update(c) // each write re-arms the TTL clock
        (user, r._2, c)
      }.iterator
    }
  }

  /** The transform: events -> watermarked closed sessions, schema equal
    * to [[EventStreams.userSessions]] (user_id, session_start,
    * session_end, n, sum_value).
    */
  def userSessionsTws(events: DataFrame,
      delay: String = EventStreams.WatermarkDelay): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_id",
        "CAST(value AS DOUBLE) AS value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start", "session_end", "n", "sum_value")
  }
}
