package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live exact percentiles — the ingest-time twin of the batch
  * order-statistic quantile picks (`global_quantiles` /
  * `rel_quantiles`): per key a value→count histogram accumulates in
  * keyed state and the current p50/p95/p99 are emitted on every
  * micro-batch that touches the key — the live latency/price dashboard
  * readout, computed EXACTLY (a pick from the histogram), not with a
  * t-digest-style approximation whose result depends on merge order.
  *
  * Semantics contract (StatefulQuantileSpec): after any stream prefix,
  * the LATEST emission per key equals the batch order-statistic pick
  * over the values seen so far — rank `ceil(p·n) = (n·p + 99) div 100`
  * over the ascending multiset, the exact convention of the batch
  * quantile queries (quantiles of a multiset need no tiebreak, so
  * arrival order cannot matter). The [[StatefulSeasonal]] emission
  * contract: a changelog stream whose last row per key is the current
  * truth. Replays are dropped by the (event_time, sequence) high-water
  * mark (in-order feed, [[KeyedFold]]).
  *
  * State is the per-key histogram — O(distinct values), NOT O(rows):
  * prices on a cent grid or bucketed latencies keep it small and
  * bounded at any row volume, which is the 100 TB shape (a raw-value
  * buffer would be O(rows) and die; for genuinely unbounded-cardinality
  * values the sketch twins — [[StatefulKmv]], [[StatefulCountMin]] —
  * are the escape hatch, trading exactness for O(1)).
  */
object StatefulQuantile {

  final case class ObsIn(product_id: String, event_time: java.sql.Timestamp,
                         sequence: Long, price: Double)
  /** Current exact percentiles over everything seen for the key. */
  final case class QOut(product_id: String, n: Long, p50: Double,
                        p95: Double, p99: Double)
  final case class QState(hist: Map[Double, Long], lastUs: Long, lastSeq: Long)

  /** The batch pick: rank (n·k + 99) div 100 (1-based) on the ascending
    * multiset — shared by the state fold and the spec's comparator. */
  private[streaming] def pick(sortedKeys: IndexedSeq[Double],
                              hist: Map[Double, Long],
                              n: Long, k: Int): Double = {
    val target = (n * k + 99L) / 100L
    var cum = 0L
    var i = 0
    while (i < sortedKeys.length) {
      cum += hist(sortedKeys(i))
      if (cum >= target) return sortedKeys(i)
      i += 1
    }
    sortedKeys.last
  }

  def quantiles(stream: Dataset[ObsIn]): Dataset[QOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[QState, QOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[ObsIn], state: GroupState[QState]) =>
          KeyedFold(rows, state.getOption, QState(Map.empty, Long.MinValue, Long.MinValue))(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, o, us) =>
            QState(st.hist.updated(o.price, st.hist.getOrElse(o.price, 0L) + 1L), us, o.sequence)
          }.map { st =>
            state.update(st)
            val hist = st.hist
            val n = hist.valuesIterator.sum
            val keys = hist.keys.toIndexedSeq.sorted
            QOut(key, n, pick(keys, hist, n, 50), pick(keys, hist, n, 95), pick(keys, hist, n, 99))
          }.iterator
      }
  }
}
