package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest-lag monitor — the live twin of the batch
  * `latency_metrics` query (and of the reference's consumer-lag
  * healthcheck, scripts/healthcheck_kafka_lag.py, run OUT-of-engine
  * there): two chained stateful operators in one query, the same Spark 4
  * multi-stateful shape as [[StatefulImbalance]]:
  *
  *   1. a flatMapGroupsWithState gap chain — per event_type the state is
  *      ONE (micros, event_id) pair, O(1); each arrival emits its exact
  *      inter-arrival gap in micros;
  *   2. a tumbling-window aggregation over the gap stream (watermark
  *      re-armed on the emitted event time): arrivals, max/sum gap and
  *      budget breaches per (event_type, hour).
  *
  * Gaps are exact long micros and every window aggregate (count, max,
  * sum of longs) combines associatively, so micro-batch boundaries
  * cannot change any bit — the final upserts equal the batch
  * latency_metrics rows (StatefulLatencySpec).
  */
object StatefulLatency {

  final case class EventIn(event_type: String, ts: java.sql.Timestamp,
                           event_id: Long)
  final case class GapState(lastUs: Long, lastId: Long)
  final case class Gap(event_type: String, ts: java.sql.Timestamp, gap_us: Long)

  /** Stage 1: per-type gap chain (the first arrival of a type emits
    * nothing, like the batch query's `gap_us IS NOT NULL`).
    *
    * ORDERING CONTRACT: arrivals are sorted (ts, event_id) WITHIN a
    * micro-batch, but an event that sorts before the last state pair of
    * a PREVIOUS batch is dropped, not spliced — the O(1) state keeps
    * only the newest (ts, id), so streaming≡batch holds exactly when
    * the feed is ordered at micro-batch granularity: every event of
    * batch n+1 ≥ the max of batch n per key (true for replayed logs and
    * for any source partitioned so per-key order is preserved, e.g. a
    * Kafka topic keyed by event_type). Feeds that cannot guarantee
    * batch-granular order use [[gapsBuffered]] — a bounded-lateness
    * buffer (O(late window) state) that splices cross-batch stragglers
    * back into the chain — or widen micro-batches (trigger interval)
    * past their reorder horizon. StatefulLatencySpec pins the drop
    * behavior so a silent semantic change fails a test. The sort and
    * the drop are [[KeyedFold]]'s.
    */
  def gaps(events: Dataset[EventIn]): Dataset[Gap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapState, Gap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[EventIn], state: GroupState[GapState]) =>
          val out = Vector.newBuilder[Gap]
          KeyedFold(rows, state.getOption, GapState(Long.MinValue, Long.MinValue))(
              _.ts, _.event_id, st => (st.lastUs, st.lastId)) { (st, e, us) =>
            if (st.lastUs != Long.MinValue) out += Gap(key, e.ts, us - st.lastUs)
            GapState(us, e.event_id)
          }.foreach(state.update)
          out.result().iterator
      }
  }

  /** Bounded-lateness buffer state: `pending` holds every (us, id) not
    * yet finalized — O(events inside the lateness window) per key, the
    * price of splicing; (lastUs, lastId) is the last FINALIZED chain
    * head; `maxUs` the per-key event-time high-water mark. */
  final case class BufGapState(pending: List[(Long, Long)],
                               lastUs: Long, lastId: Long, maxUs: Long)

  /** Stage 1, bounded-lateness mode: cross-batch stragglers SPLICE
    * instead of drop, for feeds that cannot guarantee batch-granular
    * per-key order (the reference's consumer-lag healthcheck tolerates
    * reordering — scripts/healthcheck_kafka_lag.py polls committed
    * offsets, which are order-free).
    *
    * Mechanism: arrivals buffer in state; an event FINALIZES — its gap
    * is emitted and it becomes the chain head — only once the per-key
    * high-water mark has moved `allowedLatenessUs` past it
    * (`us < maxUs − L`, strict, so an allowed straggler can never sort
    * before an already-finalized event: it would need
    * us ≥ maxUs − L > finalizedUs). Events are emitted in (ts, id)
    * order per key with exactly the batch gap chain's bits — equality
    * across reordered batch boundaries is StatefulLatencySpec's
    * buffered cases. An event that still sorts at-or-before the
    * finalized head (possible only when it is > L behind the high-water
    * mark at its arrival) is dropped: bounded lateness, same contract a
    * watermark gives the window stage. State is O(late window) instead
    * of [[gaps]]'s O(1) — callers pick per feed.
    *
    * Results are complete up to `maxUs − L`: the tail of the chain stays
    * pending until event time advances past it (exactly like a windowed
    * aggregate under a watermark — a quiet key emits its tail on the
    * next arrival).
    */
  def gapsBuffered(events: Dataset[EventIn],
                   allowedLatenessUs: Long): Dataset[Gap] = {
    require(allowedLatenessUs >= 0, "allowedLatenessUs must be >= 0")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BufGapState, Gap](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[EventIn], state: GroupState[BufGapState]) =>
          val st = state.getOption.getOrElse(
            BufGapState(Nil, Long.MinValue, Long.MinValue, Long.MinValue))
          var maxUs = st.maxUs
          val incoming = rows.map { e =>
            val us = EventTime.micros(e.ts)
            if (us > maxUs) maxUs = us
            (us, e.event_id)
          }.filter { case (us, id) => // beyond-lateness stragglers drop
            us > st.lastUs || (us == st.lastUs && id > st.lastId)
          }.toList
          val pending = (st.pending ++ incoming).sorted
          // strict horizon: see scaladoc — an allowed straggler can never
          // sort below it, so finalization order is the batch order
          val horizon =
            if (maxUs == Long.MinValue) Long.MinValue
            else maxUs - allowedLatenessUs
          val (fin, keep) = pending.partition(_._1 < horizon)
          val out = Vector.newBuilder[Gap]
          var lastUs = st.lastUs
          var lastId = st.lastId
          for ((us, id) <- fin) {
            if (lastUs != Long.MinValue)
              out += Gap(key, EventTime.toTimestamp(us), us - lastUs)
            lastUs = us; lastId = id
          }
          state.update(BufGapState(keep, lastUs, lastId, maxUs))
          out.result().iterator
      }
  }

  /** Both stages in one streaming query: gap stream → hourly lag rollup
    * with breach counts against `maxLagUs`. */
  def hourlyLag(events: Dataset[EventIn], watermarkDelay: String,
                maxLagUs: Long): DataFrame =
    lagRollup(gaps(events), watermarkDelay, maxLagUs)

  /** [[hourlyLag]] over the bounded-lateness gap chain
    * ([[gapsBuffered]]) — for feeds reordered across micro-batches. */
  def hourlyLagBuffered(events: Dataset[EventIn], watermarkDelay: String,
                        maxLagUs: Long, allowedLatenessUs: Long): DataFrame =
    lagRollup(gapsBuffered(events, allowedLatenessUs), watermarkDelay, maxLagUs)

  private def lagRollup(gapStream: Dataset[Gap], watermarkDelay: String,
                        maxLagUs: Long): DataFrame =
    gapStream
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_arrivals"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"),
        count(when(col("gap_us") > maxLagUs, lit(1))).as("lag_breaches"))
      .select(col("event_type"), col("window.start").as("bucket"),
        col("n_arrivals"), col("max_gap_us"), col("sum_gap_us"),
        col("lag_breaches"),
        (col("max_gap_us") > maxLagUs).as("offending"))
}
