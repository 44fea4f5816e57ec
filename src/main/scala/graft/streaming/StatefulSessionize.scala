package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization — the incremental form of
  * [[graft.ops.Sessionize]]: per key, O(1) state (the one open session)
  * folded as events arrive, emitting a session row the moment it closes.
  * A session closes two ways, producing identical rows:
  *
  *  - a successor event at `ts − last > gap` arrives for the key
  *    (data-path close, same boundary rule as Spark's `session_window`
  *    and the DuckDB gaps-and-islands twin: split on `diff > gap` — an
  *    exactly-gap successor still merges, the closed-interval convention
  *    the zipf 100× tier pinned down in round 13 —
  *    `session_end = last + gap`);
  *  - the event-time watermark passes `last + gap` with no successor
  *    (GroupStateTimeout.EventTimeTimeout — the timeout millisecond is
  *    rounded UP so a timeout never fires inside the still-open gap).
  *
  * Numeric contract: identical bits to the batch operator. The session
  * value sum is carried as exact grid longs at [[graft.ops.Sessionize.SumScale]]
  * (`k = floor(v·10⁴ + 0.5)` — the same pure-IEEE mapping as `Det.kl`)
  * and finished with Det's rule-3 sequence `(double)Σk / 10⁴`. Integer
  * addition is associative, so arrival grouping into micro-batches cannot
  * change any output bit. Within a micro-batch rows are sorted by exact
  * event-time micros ([[EventTime.micros]] — `Timestamp.getTime` would
  * truncate sub-millisecond micros, round-2 ADVICE); rows older than the
  * key's high-water mark are dropped (watermark-style, like
  * StatefulSignals). StatefulSessionizeSpec proves the emitted rows equal
  * batch Sessionize output exactly.
  *
  * Scale: state is one open session per active key — bytes per key, no
  * buffered events — so a 1000-executor cluster holds billions of live
  * keys; the timeout sweep is Spark's own state-store iteration, no full
  * scan in user code.
  */
object StatefulSessionize {

  final case class EventIn(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Open session: [startUs, lastUs] inclusive of folded events, n events,
    * Σ grid-k of value. */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, sumK: Long)

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long,
                              total_value: Double)

  private val GridPow: Double = 1e4 // = 10^Sessionize.SumScale

  private def k(v: Double): Long = math.floor(v * GridPow + 0.5).toLong

  private def close(key: Long, st: SessionState, gapUs: Long): SessionOut =
    SessionOut(key, EventTime.toTimestamp(st.startUs),
      EventTime.toTimestamp(st.lastUs + gapUs), st.n,
      st.sumK.toDouble / GridPow)

  /** Sessionize a watermarked stream keyed by user_id. `gapSec` is the
    * inactivity gap in seconds (matching batch Sessionize's duration). */
  def sessions(events: Dataset[EventIn], gapSec: Long): Dataset[SessionOut] = {
    val spark = graft.io.LocalFs.session(events)
    import spark.implicits._
    val gapUs = gapSec * 1000000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed last + gap with no successor: emit and clear.
            val st = state.get
            state.remove()
            Iterator.single(close(key, st, gapUs))
          } else {
            val out = Vector.newBuilder[SessionOut]
            var open = state.getOption
            val sorted = rows.toVector.sortBy(e => EventTime.micros(e.ts))
            for (e <- sorted) {
              val us = EventTime.micros(e.ts)
              open match {
                case None =>
                  open = Some(SessionState(us, us, 1L, k(e.value)))
                case Some(st) if us < st.lastUs => () // stale row: drop
                case Some(st) if us - st.lastUs > gapUs =>
                  out += close(key, st, gapUs)
                  open = Some(SessionState(us, us, 1L, k(e.value)))
                case Some(st) =>
                  open = Some(st.copy(lastUs = us, n = st.n + 1,
                    sumK = st.sumK + k(e.value)))
              }
            }
            open.foreach { st =>
              state.update(st)
              // Round UP to the next millisecond: firing at floor-ms could
              // close the session while an in-gap extension is still legal.
              state.setTimeoutTimestamp(Math.floorDiv(st.lastUs + gapUs, 1000L) + 1L)
            }
            out.result().iterator
          }
      }
  }

  /** DataFrame adapter over raw (user_id, ts, value) rows; caller applies
    * the watermark upstream (EventTimeTimeout requires one). */
  def apply(events: DataFrame, gapSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    sessions(events.select(col("user_id").cast("long"), col("ts"),
      col("value").cast("double")).as[EventIn], gapSec).toDF()
  }
}
