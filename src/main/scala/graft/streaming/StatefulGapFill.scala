package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-fill / resample-to-grid — the ingest-time twin of
  * [[graft.ops.GapFill]]: per key, grid rows are emitted AS OBSERVATIONS
  * ARRIVE, each carrying the latest observation at or before its grid
  * instant (TimescaleDB `time_bucket_gapfill` + `locf`, kept live — the
  * feature-store serving shape where a trainer reads a regular grid
  * while the feed is still appending).
  *
  * Semantics contract (StatefulGapFillSpec): after any stream prefix,
  * the emitted rows are EXACTLY batch `GapFill` over the observations
  * seen so far. That works because the batch grid is data-bounded on
  * both ends — it starts at `date_trunc(unit, min ts)` and ends at
  * `max ts` — so the grid only EXTENDS as new maxima arrive and a
  * closed grid instant's value is final under in-order processing:
  * a grid point t takes the latest observation ≤ t, and every
  * not-yet-seen observation is > t. Each grid row is emitted exactly
  * once; no watermark/timeout is needed (emission is purely
  * data-driven, like the batch operator). Unlike [[StatefulSessionize]]
  * there is no open aggregate to flush — the state is just the carry:
  * (next unemitted grid instant, last observation).
  *
  * Per arrival (ts, v), with gridUs the next unemitted instant:
  * every instant < ts gets the PREVIOUS carry (NULL before the key's
  * first observation — AsofJoin's LEFT semantics), an instant == ts
  * gets (ts, v) (the as-of tie rule: an exactly-simultaneous
  * observation matches), and gridUs advances past what was emitted.
  * Rows at or below the key's high-water mark are dropped
  * (watermark-style, matching the as-of precondition that observations
  * are unique per (key, ts) — batch callers pre-aggregate duplicates,
  * see the contract query's `uniqTicks`).
  *
  * State is O(1) per key — the 100 TB shape: keyed state partitions
  * across executors like the batch as-of Exchange, and emission volume
  * is span/step per key, independent of input rate.
  */
object StatefulGapFill {

  final case class ObsIn(product_id: String, event_time: java.sql.Timestamp,
                         price: Double)
  /** One grid row: locf value + its source time (NULL before the key's
    * first observation). */
  final case class GridOut(product_id: String, grid_ts: java.sql.Timestamp,
                           price: Option[Double],
                           src_time: Option[java.sql.Timestamp])
  final case class FillState(nextGridUs: Long, lastUs: Long, lastVal: Double)

  /** @param stepUs   grid step in micros (e.g. 3600000000L for hourly)
    * @param truncUs  grid origin unit in micros: the first grid instant
    *                 is `floor(firstTs / truncUs) * truncUs` — matching
    *                 batch GapFill's `date_trunc(truncUnit, min(ts))`
    *                 for UTC-aligned units (hour/minute). */
  def grid(stream: Dataset[ObsIn], stepUs: Long,
           truncUs: Long): Dataset[GridOut] = {
    require(stepUs > 0 && truncUs > 0, "step and trunc must be positive")
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[FillState, GridOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[ObsIn], state: GroupState[FillState]) =>
          val out = Seq.newBuilder[GridOut]
          var st = state.getOption.orNull
          val sorted = rows.toVector.sortBy(o => EventTime.micros(o.event_time))
          for (o <- sorted) {
            val us = EventTime.micros(o.event_time)
            if (st == null) {
              // first observation: grid starts at the truncated instant;
              // instants before the observation have nothing to carry
              var g = Math.floorDiv(us, truncUs) * truncUs
              while (g < us) {
                out += GridOut(key, EventTime.toTimestamp(g), None, None)
                g += stepUs
              }
              if (g == us) {
                out += GridOut(key, EventTime.toTimestamp(g),
                  Some(o.price), Some(EventTime.toTimestamp(us)))
                g += stepUs
              }
              st = FillState(g, us, o.price)
            } else if (us > st.lastUs) {
              var g = st.nextGridUs
              while (g < us) { // instants strictly before: previous carry
                out += GridOut(key, EventTime.toTimestamp(g),
                  Some(st.lastVal), Some(EventTime.toTimestamp(st.lastUs)))
                g += stepUs
              }
              if (g == us) { // as-of tie: simultaneous observation matches
                out += GridOut(key, EventTime.toTimestamp(g),
                  Some(o.price), Some(EventTime.toTimestamp(us)))
                g += stepUs
              }
              st = FillState(g, us, o.price)
            } // else: stale/duplicate row below the high-water mark — drop
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }
}
