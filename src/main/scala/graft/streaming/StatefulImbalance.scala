package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming tick-rule order-flow imbalance — TWO CHAINED STATEFUL
  * OPERATORS in one streaming query (Spark 4 multi-stateful support):
  *
  *   1. a flatMapGroupsWithState sign chain (per instrument: previous
  *      price + last non-zero direction, O(1) state) classifies each
  *      tick buy/sell exactly like the batch `tick_imbalance` window
  *      chain;
  *   2. a tumbling-window aggregation over the classified stream
  *      (watermark re-attached to the emitted event time) counts signed
  *      flow per (instrument, hour).
  *
  * The classification fold is pure integer/compare logic in
  * (event_time, sequence) order, so the classified stream — and hence
  * the windowed counts — equal the batch bits. StatefulImbalanceSpec
  * proves it.
  */
object StatefulImbalance {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class SignState(lastUs: Long, lastSeq: Long, lastPrice: Double,
                             dir: Int)
  final case class Classified(product_id: String,
                              event_time: java.sql.Timestamp, dir: Int)

  /** Stage 1: per-key sign chain (dir ∈ {+1, −1}; unclassifiable leading
    * run emits nothing, like the batch query's `dir IS NOT NULL`). */
  def classify(ticks: Dataset[TickIn]): Dataset[Classified] = {
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[SignState, Classified](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[SignState]) =>
          val out = Vector.newBuilder[Classified]
          KeyedFold(rows, state.getOption, SignState(Long.MinValue, Long.MinValue, Double.NaN, 0))(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
            val d =
              if (st.lastPrice.isNaN) 0
              else if (t.price > st.lastPrice) 1
              else if (t.price < st.lastPrice) -1
              else st.dir
            if (d != 0) out += Classified(key, t.event_time, d)
            SignState(us, t.sequence, t.price, d)
          }.foreach(state.update)
          out.result().iterator
      }
  }

  /** Both stages in one streaming query: classified stream → hourly
    * signed-flow counts. `watermarkDelay` re-arms event time on the
    * intermediate stream (required between chained stateful ops). */
  def hourlyImbalance(ticks: Dataset[TickIn], watermarkDelay: String): DataFrame =
    classify(ticks)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), "1 hour"), col("product_id"))
      .agg(count(when(col("dir") === 1, 1)).as("n_buy"),
        count(when(col("dir") === -1, 1)).as("n_sell"),
        ((count(when(col("dir") === 1, 1)) - count(when(col("dir") === -1, 1))).cast("double") /
          count(lit(1)).cast("double")).as("imbalance"))
      .select(col("window.start").as("bucket"), col("product_id"),
        col("n_buy"), col("n_sell"), col("imbalance"))
}
