package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming OHLC candles — the ingest-time twin of the batch
  * `ohlc_bars` aggregation (BarQueries.ohlc): per product, a fixed-width
  * price bar is accumulated in keyed state and EMITTED THE MOMENT the
  * first tick of a later bar arrives for that key — the live
  * candle-close feed every charting/exchange API serves, produced from
  * the same tick stream the batch job aggregates nightly.
  *
  * Semantics contract (StatefulOhlcSpec): after any stream prefix, the
  * emitted bars are EXACTLY the batch OHLC aggregation over the ticks
  * seen so far MINUS each key's last (still-open) bar. That works
  * because under in-order per-key processing a bar is final once a
  * later-bar tick arrives — no earlier tick can still show up — and
  * open/close use the same (event_time, sequence) total order as the
  * batch `min_by`/`max_by(struct(event_time, sequence))`, so the picks
  * cannot diverge. high/low/count are order-free. Each bar is emitted
  * exactly once; no watermark/timeout is needed (emission is
  * data-driven, like [[StatefulGapFill]]'s grid). Rows at or below the
  * key's (event_time, sequence) high-water mark are dropped
  * ([[KeyedFold]], the convention of the in-order twins).
  *
  * State is O(1) per key — six numbers and the high-water mark, the
  * 100 TB shape: keyed state partitions across executors exactly like
  * the batch groupBy's Exchange, and emission volume is bars, not
  * ticks.
  */
object StatefulOhlc {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  /** One CLOSED bar (bar_ts = bar start instant). */
  final case class BarOut(product_id: String, bar_ts: java.sql.Timestamp,
                          open: Double, high: Double, low: Double,
                          close: Double, n_ticks: Long)
  final case class BarState(barStartUs: Long, open: Double, high: Double,
                            low: Double, close: Double, lastUs: Long,
                            lastSeq: Long, n: Long)

  /** @param barUs bar width in micros (3600000000L = the batch query's
    *              hourly `date_trunc`, which for UTC-aligned units is
    *              `floor(us / barUs) * barUs`). */
  def bars(stream: Dataset[TickIn], barUs: Long): Dataset[BarOut] = {
    require(barUs > 0, "bar width must be positive")
    val spark = graft.io.LocalFs.session(stream)
    import spark.implicits._
    stream
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[BarState, BarOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[BarState]) =>
          val out = Seq.newBuilder[BarOut]
          val zero = BarState(Long.MinValue, Double.NaN, Double.NaN, Double.NaN,
            Double.NaN, Long.MinValue, Long.MinValue, 0L)
          KeyedFold(rows, state.getOption, zero)(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, tk, us) =>
            val bar = Math.floorDiv(us, barUs) * barUs
            if (st.n == 0L || bar > st.barStartUs) {
              // first tick of a later bar: the open bar is final — emit
              if (st.n > 0L)
                out += BarOut(key, EventTime.toTimestamp(st.barStartUs),
                  st.open, st.high, st.low, st.close, st.n)
              BarState(bar, tk.price, tk.price, tk.price, tk.price,
                us, tk.sequence, 1L)
            } else
              BarState(st.barStartUs, st.open,
                math.max(st.high, tk.price), math.min(st.low, tk.price),
                tk.price, us, tk.sequence, st.n + 1L)
          }.foreach(state.update)
          out.result().iterator
      }
  }
}
