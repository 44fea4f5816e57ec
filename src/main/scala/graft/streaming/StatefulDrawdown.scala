package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Streaming max-drawdown monitor on Spark 4's `transformWithState`
  * (StatefulProcessor) API — the arbitrary-state successor to
  * `flatMapGroupsWithState`, backed by the RocksDB state store. One
  * ValueState per key holds (running max, max drawdown, max relative
  * drawdown, count): O(1) integer-exact state, the same grid-long
  * arithmetic as the batch `drawdown` query, so the final upserts equal
  * the batch bits (StatefulDrawdownSpec).
  *
  * Why both APIs exist in this engine: flatMapGroupsWithState
  * (StatefulFunnel/Sessionize/Cusum/Signals) is the portable classic;
  * transformWithState adds composable named state, timers, and TTL per
  * state variable — the shape Spark is converging on for long-running
  * keyed operators. The fold logic is deliberately identical in both so
  * the state API is the ONLY variable.
  */
object StatefulDrawdown {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)

  final case class DrawState(lastUs: Long, lastSeq: Long, runmaxK: Long,
                             maxDdK: Long, maxFrac: Double, n: Long)

  final case class DrawOut(product_id: String, n_ticks: Long, peak_price: Double,
                           max_drawdown: Double, max_dd_frac: Double)

  /** Same grid + finishing constants as the batch drawdown query. */
  private val Pow = 1e4

  class Processor extends StatefulProcessor[String, TickIn, DrawOut] {
    @transient private var state: ValueState[DrawState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DrawState]("draw",
        Encoders.product[DrawState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TickIn],
                                 timerValues: TimerValues): Iterator[DrawOut] = {
      KeyedFold(rows, Option(state.get()),
          DrawState(Long.MinValue, Long.MinValue, Long.MinValue, 0L, 0.0, 0L))(
          _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
        // same pure-IEEE grid mapping as Det.kl
        val k = math.floor(t.price * Pow + 0.5).toLong
        val runmax = math.max(st.runmaxK, k)
        val dd = runmax - k
        // identical operand bits to the batch per-row ratio; max over
        // doubles is order-independent, so micro-batching can't drift
        val frac = dd.toDouble / runmax.toDouble
        DrawState(us, t.sequence, runmax,
          math.max(st.maxDdK, dd), math.max(st.maxFrac, frac), st.n + 1L)
      }.map { st =>
        state.update(st)
        DrawOut(key, st.n, st.runmaxK.toDouble / Pow, st.maxDdK.toDouble / Pow, st.maxFrac)
      }.iterator
    }
  }

  def drawdown(ticks: Dataset[TickIn]): Dataset[DrawOut] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append())
  }
}
