package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming forward-return labeling — the ingest-time twin of the
  * `forward_labels` batch query ([[graft.ops.AsofJoin.forward]] against
  * the per-(key, time) deduped price): every tick is both a PROBE
  * (looking ahead to the first price at or after t + horizon) and a
  * REFERENCE (potentially labeling earlier probes). The label for a
  * probe emits the moment its first qualifying future tick arrives —
  * training labels materialize at ingest instead of in a nightly batch
  * join.
  *
  * Why the streaming form is exact (StatefulForwardLabelSpec): under
  * in-order per-key processing, when a tick at time ts arrives, a
  * pending probe with probe_time ≤ ts has BY CONSTRUCTION seen no
  * earlier reference ≥ its probe_time (it would have been labeled and
  * removed) — so this tick IS the as-of forward match, with the same
  * `r_time ≥ probe_time` convention as the batch join and the DuckDB
  * `ASOF ... ON p.probe_time <= u.r_time` twin. Same-timestamp
  * duplicates fold to max(price) FIRST (the batch `u` pre-aggregate):
  * within a micro-batch that is a local group-by; across micro-batches
  * the high-water drop enforces it (a late equal-timestamp tick cannot
  * retroactively raise an emitted label — the documented at-most-once
  * trade every high-water twin makes).
  *
  * Contract: after any stream prefix, emitted labels ≡ the batch
  * query's NON-NULL-label rows over the ticks seen so far; the still-
  * pending probes are exactly the batch NULL-label tail (probe_time >
  * max seen tick time), emitted by batch as fwd-NULL rows and held by
  * the stream awaiting data. State per key: the pending probes — those
  * with probe_time > last seen tick — bounded by the tick rate × the
  * label horizon (60 s of ticks), the inherent look-ahead working set.
  */
object StatefulForwardLabel {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class LabelOut(product_id: String, event_time: java.sql.Timestamp,
                            sequence: Long, price: Double,
                            fwd_time: java.sql.Timestamp, fwd_price: Double)
  /** Pending probes (tickUs, sequence, price) ordered by probe time,
    * plus the key's high-water mark. */
  final case class PendState(pending: Seq[(Long, Long, Double)], lastUs: Long)

  def labels(stream: Dataset[TickIn], horizonUs: Long): Dataset[LabelOut] = {
    // > 0: the due-check runs before the current instant's probes join
    // the pending set, so a zero horizon's own-instant self-match would
    // be missed — and a zero-horizon "forward" label is just the price
    require(horizonUs > 0, "horizon must be positive")
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[PendState, LabelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[PendState]) =>
          val st = state.getOption.getOrElse(PendState(Seq.empty, Long.MinValue))
          var pending = st.pending
          var lastUs = st.lastUs
          val out = Seq.newBuilder[LabelOut]
          // batch `u` pre-aggregate: same-instant ticks fold to max price
          // as the REFERENCE side; every tick row stays a PROBE.
          // A straggler AT the high-water instant keeps its probe role
          // (it cannot have been labeled yet — a labeling tick would be
          // > lastUs — so membership in `pending` is the dedup check);
          // its reference role is gone (that instant's max already
          // labeled whatever was due), the documented at-most-once trade.
          val (stragglers, fresh) = rows.toVector
            .map(t => (EventTime.micros(t.event_time), t))
            .filter(_._1 >= lastUs)
            .partition(_._1 == lastUs)
          pending = pending ++ stragglers
            .filterNot { case (us, t) =>
              pending.exists(p => p._1 == us && p._2 == t.sequence)
            }
            .map { case (us, t) => (us, t.sequence, t.price) }
          val sorted = fresh.sortBy { case (us, t) => (us, t.sequence) }
          for (group <- groupRuns(sorted)) {
            val us = group.head._1
            val refPrice = group.iterator.map(_._2.price).max
            // this instant's max price labels every pending probe due by now
            val (due, stillPending) = pending.partition(_._1 + horizonUs <= us)
            due.foreach { case (tUs, seq, p) =>
              out += LabelOut(key, EventTime.toTimestamp(tUs), seq, p,
                EventTime.toTimestamp(us), refPrice)
            }
            pending = stillPending ++ group.map { case (tUs, t) =>
              (tUs, t.sequence, t.price)
            }
            lastUs = us
          }
          state.update(PendState(pending, lastUs))
          out.result().iterator
      }
  }

  /** Consecutive same-micros runs of a (us, tick) vector, in order. */
  private def groupRuns(v: Vector[(Long, TickIn)]): Iterator[Vector[(Long, TickIn)]] =
    new Iterator[Vector[(Long, TickIn)]] {
      private var rest = v
      def hasNext: Boolean = rest.nonEmpty
      def next(): Vector[(Long, TickIn)] = {
        val us = rest.head._1
        val (run, tail) = rest.span(_._1 == us)
        rest = tail
        run
      }
    }
}
