package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live CDC MERGE-apply — the ingest-time twin of the batch
  * `cdc_upsert` query (AnalyticsQueries.cdcUpsert) and the streaming
  * shape of `MERGE INTO current USING log` / Delta's APPLY CHANGES
  * INTO: per key the current SCD1 row lives in keyed state, every
  * arriving change (upsert or DELETE tombstone) folds into it, and the
  * updated row is emitted as a CHANGELOG — the latest emission per key
  * IS the current snapshot row, with `alive = false` marking a
  * tombstoned key (a downstream sink deletes it; the batch query simply
  * omits it).
  *
  * Semantics contract (StatefulCdcSpec): after any stream prefix, the
  * latest emission per key with `alive = true` equals the batch
  * cdc_upsert row over the changes seen so far, column for column
  * (value/props picks, change/delete/resurrection counts), and keys
  * whose latest emission has `alive = false` are exactly the keys the
  * batch output omits. Works because the batch fold is a per-key
  * LEFT-TO-RIGHT pass in (ts, event_id) order — the same fold the
  * state performs incrementally; the resurrection counter needs only
  * the previous change's tombstone flag, which is part of the state.
  * Replays are dropped by the (ts, event_id) high-water mark (in-order
  * feed, [[KeyedFold]]).
  *
  * State is O(1) per key — the current row plus four counters: the
  * 100 TB shape (state partitions like the batch Exchange; emission
  * volume is changes, and each emission is a complete current row, so
  * any keyed sink can upsert it idempotently).
  */
object StatefulCdc {

  final case class ChangeIn(user_id: Long, ts: java.sql.Timestamp,
                            event_id: Long, event_type: String,
                            value: Double, props: String)
  /** One changelog row: the complete current row for the key. */
  final case class RowOut(user_id: Long, alive: Boolean, value: Double,
                          props: String, updated_at: java.sql.Timestamp,
                          n_changes: Long, n_deletes: Long,
                          n_resurrections: Long)
  final case class CdcState(del: Boolean, value: Double, props: String,
                            lastUs: Long, lastId: Long, n: Long,
                            nDel: Long, nRes: Long)

  def apply(stream: Dataset[ChangeIn]): Dataset[RowOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, RowOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ChangeIn], state: GroupState[CdcState]) =>
          val zero = CdcState(del = false, 0.0, null, Long.MinValue, Long.MinValue, 0L, 0L, 0L)
          KeyedFold(rows, state.getOption, zero)(
              _.ts, _.event_id, st => (st.lastUs, st.lastId)) { (st, c, us) =>
            val del = c.event_type == "error"
            CdcState(del, c.value, c.props, us, c.event_id, st.n + 1L,
              st.nDel + (if (del) 1L else 0L),
              st.nRes + (if (st.del && !del) 1L else 0L))
          }.map { st =>
            state.update(st)
            RowOut(key, !st.del, st.value, st.props,
              EventTime.toTimestamp(st.lastUs), st.n, st.nDel, st.nRes)
          }.iterator
      }
  }
}
