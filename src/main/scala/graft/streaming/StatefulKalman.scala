package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming local-level Kalman filter — the incremental form of
  * [[graft.ops.Indicators.kalmanPerKey]]: per key, O(1) state
  * (level, error variance, gain, high-water mark) advanced tick-by-tick
  * in event-time order, emitting the refreshed estimate whenever the
  * state moves (upsert semantics downstream). The predict/update body is
  * copied operand-for-operand from the batch fold, so the final upserts
  * equal the batch bits (StatefulKalmanSpec) — a live adaptive-gain
  * price tracker with zero batch/stream divergence, the serving half of
  * the kalman_level contract query. */
object StatefulKalman {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class KState(lastUs: Long, lastSeq: Long, x: Double,
                          p: Double, k: Double, n: Long)
  final case class KOut(product_id: String, n_ticks: Long, level: Double,
                        gain: Double, p_var: Double)

  def filter(ticks: Dataset[TickIn], q: Double, r: Double,
             p0: Double): Dataset[KOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[KState, KOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[KState]) =>
          KeyedFold(rows, state.getOption, KState(Long.MinValue, Long.MinValue, 0.0, 0.0, 0.0, 0L))(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
            if (st.n == 0L) KState(us, t.sequence, t.price, p0, 0.0, 1L)
            else {
              // identical operand order to Indicators.kalmanPerKey
              val p1 = st.p + q
              val k = p1 / (p1 + r)
              val x = st.x + k * (t.price - st.x)
              val p = (1.0 - k) * p1
              KState(us, t.sequence, x, p, k, st.n + 1L)
            }
          }.map { st =>
            state.update(st)
            KOut(key, st.n, st.x, st.k, st.p)
          }.iterator
      }
  }
}
