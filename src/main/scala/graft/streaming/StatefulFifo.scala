package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming FIFO lot matching — the live twin of the batch `fifo_pnl`
  * query (AnalyticsQueries.fifoPnl): per key, unit-lot buys enqueue
  * their exact cent-grid price, sells match the queue head (skipped when
  * flat), and the running summary (realized P&L grid units, counts, open
  * inventory) re-emits at every invocation that touches the key — each
  * snapshot superseding the last, so the latest row per key equals the
  * batch fold over the prefix bit for bit (StatefulFifoSpec).
  *
  * State is O(open lots) per key — the open inventory, not the history;
  * realized P&L stays an exact Long on the cent grid so replay of the
  * emission (not the input) is side-effect free. Ordering contract:
  * [[KeyedFold]]'s — rows fold in (ts, event_id) order and a
  * cross-batch straggler is dropped at the high-water mark;
  * streaming≡batch holds for feeds ordered at micro-batch
  * granularity. Sequential queue state is NOT
  * replay-idempotent: exactly-once delivery required, like the counting
  * sketches.
  */
object StatefulFifo {

  final case class FifoIn(user_id: Long, ts: java.sql.Timestamp,
                          event_id: Long, kind: Int, px: Long)
  final case class FifoState(lastUs: Long, lastSeq: Long, realized: Long,
                             nb: Long, ns: Long, nk: Long, lots: Seq[Long])
  final case class FifoOut(user_id: Long, n_buys: Long, n_sells: Long,
                           n_skipped: Long, realized_k: Long,
                           open_qty: Long, open_cost_k: Long)

  def summaries(stream: Dataset[FifoIn]): Dataset[FifoOut] = {
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FifoState, FifoOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[FifoIn], state: GroupState[FifoState]) =>
          // lots as a Vector: O(1) enqueue at the tail and dequeue at the head
          val prior = state.getOption.map(st => st.copy(lots = st.lots.toVector))
          KeyedFold(rows, prior,
              FifoState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, Vector.empty))(
              _.ts, _.event_id, st => (st.lastUs, st.lastSeq)) { (st, r, us) =>
            val marked = st.copy(lastUs = us, lastSeq = r.event_id)
            if (r.kind == 1) marked.copy(nb = st.nb + 1L, lots = st.lots :+ r.px)
            else if (st.lots.nonEmpty)
              marked.copy(realized = st.realized + (r.px - st.lots.head), ns = st.ns + 1L,
                lots = st.lots.tail)
            else marked.copy(nk = st.nk + 1L)
          }.map { st =>
            state.update(st)
            FifoOut(key, st.nb, st.ns, st.nk, st.realized, st.lots.size.toLong, st.lots.sum)
          }.iterator
      }
  }
}
