package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming volume-synchronized order-flow toxicity — the live twin of
  * the batch `vpin` query (BarQueries.vpin): the Lee–Ready sign chain
  * and the volume clock fold into ONE per-instrument O(1) state
  * (previous price + carried direction + global classified-row counter +
  * the open bucket's three counts), so no window, no shuffle beyond the
  * keyed state exchange, and the emitted buckets carry the batch bits.
  *
  *   - a CLOSED bucket (`closed = true`) is emitted exactly once, the
  *     moment its `bucketSize`-th classified tick arrives;
  *   - the OPEN tail bucket is re-emitted (`closed = false`) at every
  *     invocation that touches the key, each snapshot superseding the
  *     last — `n_ticks` grows monotonically within a bucket, so "the
  *     open row with the most ticks per (instrument, bucket)" is the
  *     final tail, which equals the batch query's trailing partial
  *     bucket bit-for-bit (StatefulVpinSpec proves equality across
  *     micro-batch splits and a checkpoint restart).
  *
  * Ordering contract: [[KeyedFold]]'s — rows fold in (event_time,
  * sequence) order and a cross-batch straggler is dropped at the
  * (ts, seq) guard; streaming≡batch holds for feeds ordered at
  * micro-batch granularity.
  *
  * The vpin ratio is one exact-int |buy−sell| / n double division —
  * identical operand bits to the batch/oracle form at any partitioning.
  */
object StatefulVpin {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class VpinState(lastUs: Long, lastSeq: Long, lastPrice: Double,
                             dir: Int, rn: Long,
                             nTicks: Long, nBuy: Long, nSell: Long)
  final case class Bucket(product_id: String, bucket: Long, n_ticks: Long,
                          n_buy: Long, n_sell: Long, vpin: Double,
                          closed: Boolean)

  private def row(key: String, bucket: Long, n: Long, b: Long, s: Long,
                  closed: Boolean): Bucket =
    Bucket(key, bucket, n, b, s,
      math.abs(b - s).toDouble / n.toDouble, closed)

  /** Per-instrument sign chain + volume clock. `bucketSize` classified
    * ticks per bucket (the batch query's VpinBucket). */
  def buckets(ticks: Dataset[TickIn], bucketSize: Long = 50L): Dataset[Bucket] = {
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[VpinState, Bucket](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[VpinState]) =>
          val prior = state.getOption
          val out = Vector.newBuilder[Bucket]
          val folded = KeyedFold(rows, prior,
              VpinState(Long.MinValue, Long.MinValue, Double.NaN, 0, 0L, 0L, 0L, 0L))(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (prev, t, us) =>
            val d =
              if (prev.lastPrice.isNaN) 0
              else if (t.price > prev.lastPrice) 1
              else if (t.price < prev.lastPrice) -1
              else prev.dir
            var st = prev.copy(lastUs = us, lastSeq = t.sequence,
              lastPrice = t.price, dir = d)
            if (d != 0) {
              st = st.copy(rn = st.rn + 1, nTicks = st.nTicks + 1,
                nBuy = st.nBuy + (if (d == 1) 1L else 0L),
                nSell = st.nSell + (if (d == -1) 1L else 0L))
              if (st.nTicks == bucketSize) {
                out += row(key, (st.rn - 1) / bucketSize,
                  st.nTicks, st.nBuy, st.nSell, closed = true)
                st = st.copy(nTicks = 0L, nBuy = 0L, nSell = 0L)
              }
            }
            st
          }
          folded.foreach(state.update)
          // open-tail snapshot, re-emitted even when no row was new:
          // supersedes the previous snapshot of the same bucket
          // (monotone n_ticks), equals the batch partial
          for (st <- folded.orElse(prior) if st.nTicks > 0L)
            out += row(key, st.rn / bucketSize,
              st.nTicks, st.nBuy, st.nSell, closed = false)
          out.result().iterator
      }
  }
}
