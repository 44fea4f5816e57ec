package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live lookback enrichment — the ingest-time twin of the batch
  * `range_join` query (a band join: every 'error' trigger aggregates
  * the SAME user's events in the preceding minute): the moment a
  * trigger arrives, its look-back window is already complete under
  * in-order per-key processing — every window event has ts' < trigger
  * ts — so the enriched row emits AT the trigger, exactly once. This is
  * the real-time feature-engineering shape (last-60 s activity features
  * attached to an event as it happens) that the nightly band join
  * otherwise recomputes in batch.
  *
  * Semantics contract (StatefulRangeJoinSpec): after any stream prefix,
  * the emitted rows equal the batch range_join over the events seen so
  * far — window `[ts − 60 s, ts)` (lower INCLUSIVE, upper EXCLUSIVE:
  * a same-instant event never matches), count + Det-grid sum of value
  * (the state accumulates the same `floor(v·10⁴ + 0.5)` longs batch
  * `Det.sumD(_, 4)` sums, finished by the identical `(double)Σk / 10⁴`
  * sequence, so the doubles are bit-equal by construction). Triggers
  * are themselves window events for LATER triggers (the batch build
  * side is ALL events), so every arrival enters the buffer. Replays
  * drop at the (ts, event_id) high-water mark (in-order feed,
  * [[KeyedFold]]).
  *
  * State per key = the events of the trailing window only — pruned at
  * every arrival to `ts − 60 s`, valid because future triggers have
  * ts' ≥ ts so the window's lower bound only moves forward. Bounded by
  * rate × window (the [[StatefulForwardLabel]] working-set argument),
  * independent of history length — the 100 TB shape.
  */
object StatefulRangeJoin {

  final case class EventIn(user_id: Long, ts: java.sql.Timestamp,
                           event_id: Long, event_type: String, value: Double)
  /** One enriched trigger row (sum_value on the Det 1e-4 grid). */
  final case class EnrichedOut(user_id: Long, event_id: Long,
                               ts: java.sql.Timestamp, n_prior: Long,
                               sum_value: Double)
  final case class BufState(win: List[(Long, Long, Long)], // (us, event_id, kl)
                            lastUs: Long, lastId: Long)

  private val WindowUs = 60000000L

  def enrich(stream: Dataset[EventIn]): Dataset[EnrichedOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BufState, EnrichedOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[BufState]) =>
          val out = Seq.newBuilder[EnrichedOut]
          KeyedFold(rows, state.getOption, BufState(Nil, Long.MinValue, Long.MinValue))(
              _.ts, _.event_id, st => (st.lastUs, st.lastId)) { (st, e, us) =>
            val win = st.win.filter(_._1 >= us - WindowUs) // lower bound INCLUSIVE
            if (e.event_type == "error") {
              // strictly-earlier window events (same-instant excluded)
              val hits = win.filter(_._1 < us)
              var k = 0L
              hits.foreach(k += _._3)
              // Det.sumD finish + the batch contract's r6 wrap (r14
              // ADVICE): the contract query snaps range_join at 6 dp,
              // so the twin replays the SAME scalar sequence
              // floor(x·10⁶+0.5)/10⁶ — bit-equal at ANY magnitude,
              // not just inside the |Σk·100| < 2^51 envelope where
              // snap6 is an identity on the 1e-4 grid.
              val sd = k.toDouble / 1e4
              out += EnrichedOut(key, e.event_id, e.ts,
                hits.size.toLong, math.floor(sd * 1e6 + 0.5) / 1e6)
            }
            // every event (triggers included) feeds later windows;
            // the same kl grid batch Det.sumD(_, 4) accumulates
            BufState((us, e.event_id, math.floor(e.value * 10000.0 + 0.5).toLong) :: win,
              us, e.event_id)
          }.foreach(state.update)
          out.result().iterator
      }
  }
}
