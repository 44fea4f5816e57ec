package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel — the incremental form of [[graft.ops.Funnel]]: per
  * key, O(1) state (the three step times) updated as events arrive in
  * event-time order, emitting the key's refreshed funnel row whenever its
  * state changes (upsert semantics downstream).
  *
  * Chronological processing makes the incremental fold exact: when a
  * step-2 event arrives, every earlier step-1 event has already been
  * folded, so "min step-1 time so far" equals the batch-final t1 for any
  * prefix — the same argument as the batch query's `min(...) ≥ t1` chain.
  * Rows are sorted within each micro-batch per key (same-timestamp ties
  * in step order, so simultaneous s1/s2/s3 chain like the batch `>=`
  * semantics); rows older than the key's high-water mark are dropped
  * (watermark-style, like StatefulSignals). StatefulFunnelSpec proves the
  * final upserted rows equal the batch Funnel output.
  */
object StatefulFunnel {

  final case class EventIn(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class FunnelState(lastUs: Long, t1: Long, t2: Long, t3: Long)
  final case class FunnelOut(user_id: Long, reached: Int,
                             t1_us: Long, t2_us: java.lang.Long, t3_us: java.lang.Long)

  private val Unset = Long.MinValue

  def funnel(events: Dataset[EventIn], s1: String, s2: String, s3: String,
             horizonSec: Long): Dataset[FunnelOut] = {
    val spark = graft.io.LocalFs.session(events)
    import spark.implicits._
    val hUs = horizonSec * 1000000L
    val stepRank = Map(s1 -> 0, s2 -> 1, s3 -> 2)

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Long.MinValue, Unset, Unset, Unset))
          val before = st
          val sorted = rows.toVector
            .filter(e => stepRank.contains(e.event_type))
            .sortBy(e => (EventTime.micros(e.ts), stepRank(e.event_type)))
          for (e <- sorted) {
            // exact micros (batch Funnel runs on unix_micros; getTime would
            // truncate the sub-millisecond part and diverge)
            val us = EventTime.micros(e.ts)
            if (us >= st.lastUs) {
              if (e.event_type == s1 && st.t1 == Unset)
                st = st.copy(t1 = us, lastUs = us)
              else if (e.event_type == s2 && st.t1 != Unset && st.t2 == Unset && us >= st.t1)
                st = st.copy(t2 = us, lastUs = us)
              else if (e.event_type == s3 && st.t2 != Unset && st.t3 == Unset &&
                us >= st.t2 && us <= st.t1 + hUs)
                st = st.copy(t3 = us, lastUs = us)
              else st = st.copy(lastUs = math.max(st.lastUs, us))
            }
          }
          state.update(st)
          val timesChanged =
            (st.t1, st.t2, st.t3) != (before.t1, before.t2, before.t3)
          if (timesChanged && st.t1 != Unset) {
            val reached = if (st.t3 != Unset) 3 else if (st.t2 != Unset) 2 else 1
            Iterator.single(FunnelOut(key, reached, st.t1,
              if (st.t2 == Unset) null else Long.box(st.t2),
              if (st.t3 == Unset) null else Long.box(st.t3)))
          } else Iterator.empty
      }
  }

  /** DataFrame adapter over raw (user_id, ts, event_type) rows. */
  def apply(events: DataFrame, s1: String, s2: String, s3: String,
            horizonSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    funnel(events.select(col("user_id").cast("long"), col("ts"), col("event_type"))
      .as[EventIn], s1, s2, s3, horizonSec).toDF()
  }
}
