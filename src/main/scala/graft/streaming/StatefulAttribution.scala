package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming last-touch attribution — the incremental form of the
  * `attribution` contract query: per user, O(1) state (the single most
  * recent click/view) and an emitted row per purchase that lands within
  * the horizon of that touch.
  *
  * The batch query computes a running IGNORE-NULLS last over
  * (ts, event_id) order; the incremental fold replays the identical
  * order (rows fold through [[KeyedFold]]: ordered within each
  * micro-batch, rows at or behind the key's high-water mark dropped),
  * so each purchase sees exactly the batch-final "most recent touch so
  * far". All state and arithmetic is exact integer micros — no floats,
  * nothing to drift. StatefulAttributionSpec proves streaming ≡ batch.
  */
object StatefulAttribution {

  final case class EventIn(user_id: Long, event_id: Long,
                           ts: java.sql.Timestamp, event_type: String)
  final case class TouchState(lastUs: Long, lastSeq: Long, touchId: Long,
                              touchType: String, touchUs: Long)
  final case class AttributionOut(user_id: Long, purchase_id: Long,
                                  purchase_us: Long, touch_id: Long,
                                  touch_type: String, gap_us: Long)

  private val Unset = Long.MinValue

  def attribute(events: Dataset[EventIn], horizonUs: Long): Dataset[AttributionOut] = {
    val spark = graft.io.LocalFs.session(events)
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[EventIn], state: GroupState[TouchState]) =>
          val out = Vector.newBuilder[AttributionOut]
          KeyedFold(rows, state.getOption, TouchState(Long.MinValue, Long.MinValue, Unset, null, Unset))(
              _.ts, _.event_id, st => (st.lastUs, st.lastSeq)) { (st, e, us) =>
            e.event_type match {
              case "click" | "view" =>
                TouchState(us, e.event_id, e.event_id, e.event_type, us)
              case "purchase" =>
                if (st.touchId != Unset && us - st.touchUs <= horizonUs)
                  out += AttributionOut(key, e.event_id, us, st.touchId,
                    st.touchType, us - st.touchUs)
                st.copy(lastUs = us, lastSeq = e.event_id)
              case _ =>
                st.copy(lastUs = us, lastSeq = e.event_id)
            }
          }.foreach(state.update)
          out.result().iterator
      }
  }

  /** DataFrame adapter over raw (user_id, event_id, ts, event_type). */
  def apply(events: DataFrame, horizonUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    attribute(events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("ts"), col("event_type"))
      .as[EventIn], horizonUs).toDF()
  }
}
