package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming Holt linear-trend forecaster — the incremental form of
  * [[graft.ops.Indicators.holtPerKey]]: per key, O(1) state
  * (level, trend, high-water mark) advanced tick-by-tick in event-time
  * order, emitting the refreshed forecast whenever the state moves
  * (upsert semantics downstream). The fold body is copied operand-for-
  * operand from the batch operator, so the final upserts equal the
  * batch bits (StatefulHoltSpec) — live forecasting with zero
  * batch/stream divergence. */
object StatefulHolt {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class HoltState(lastUs: Long, lastSeq: Long, lv: Double,
                             tr: Double, n: Long)
  final case class HoltOut(product_id: String, n_ticks: Long, level: Double,
                           trend: Double, forecast: Double)

  def forecast(ticks: Dataset[TickIn], alpha: Double = 0.2,
               beta: Double = 0.1, horizon: Int = 5): Dataset[HoltOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val a = alpha; val na = 1.0 - alpha
    val b = beta; val nb = 1.0 - beta
    val h = horizon.toDouble
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[HoltState]) =>
          KeyedFold(rows, state.getOption, HoltState(Long.MinValue, Long.MinValue, 0.0, 0.0, 0L))(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
            if (st.n == 0L) HoltState(us, t.sequence, t.price, 0.0, 1L)
            else {
              // identical operand order to Indicators.holtPerKey
              val nl = t.price * a + (st.lv + st.tr) * na
              val ntr = (nl - st.lv) * b + st.tr * nb
              HoltState(us, t.sequence, nl, ntr, st.n + 1L)
            }
          }.map { st =>
            state.update(st)
            HoltOut(key, st.n, st.lv, st.tr, st.lv + h * st.tr)
          }.iterator
      }
  }
}
