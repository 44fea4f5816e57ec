package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming notional-clock (dollar) bars — the live twin of the batch
  * `dollar_bars` query (BarQueries.dollarBars): the per-instrument
  * cent-grid notional clock folds into ONE O(1) state (previous
  * (ts, seq) guard + running notional + the open bar's six partials),
  * so bar construction is a keyed state exchange, no window.
  *
  * Bar identity is the BATCH closed form — bar = (cum−1) div target
  * over the per-key PREFIX sum — so a bar boundary depends only on the
  * prefix of the stream, never on micro-batch placement:
  *
  *   - a CLOSED bar is emitted exactly once, the moment the first tick
  *     of a LATER bar arrives (a large tick may skip bar ids — batch
  *     has no empty bars and neither does this);
  *   - the OPEN tail bar is re-emitted (`closed = false`) on every
  *     invocation that touches the key; `n_ticks` grows monotonically
  *     within a bar, so the snapshot with the most ticks per
  *     (instrument, bar) is the final tail and equals the batch
  *     query's trailing bar bit-for-bit (StatefulDollarBarsSpec proves
  *     equality across micro-batch splits).
  *
  * Ordering contract: [[KeyedFold]]'s — rows fold in (event_time,
  * sequence) order and a cross-batch straggler is dropped at the
  * (ts, seq) guard; streaming≡batch holds for feeds ordered at
  * micro-batch granularity.
  */
object StatefulDollarBars {

  final case class TickIn(product_id: String, event_time: java.sql.Timestamp,
                          sequence: Long, price: Double)
  final case class BarState(lastUs: Long, lastSeq: Long, cum: Long,
                            bar: Long, open: Double, high: Double,
                            low: Double, close: Double, n: Long, cents: Long)
  final case class Bar(product_id: String, bar: Long, open: Double,
                       high: Double, low: Double, close: Double,
                       n_ticks: Long, notional_cents: Long, closed: Boolean)

  /** The batch query's exact cent grid. */
  def centsOf(price: Double): Long = math.floor(price * 100 + 0.5).toLong

  def bars(ticks: Dataset[TickIn],
           targetCents: Long = 3000000L): Dataset[Bar] = {
    require(targetCents > 0, s"targetCents must be positive, got $targetCents")
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[BarState, Bar](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[BarState]) =>
          val prior = state.getOption
          val zero = BarState(Long.MinValue, Long.MinValue, 0L, -1L,
            Double.NaN, Double.NaN, Double.NaN, Double.NaN, 0L, 0L)
          val out = Vector.newBuilder[Bar]
          val folded = KeyedFold(rows, prior, zero)(
              _.event_time, _.sequence, st => (st.lastUs, st.lastSeq)) { (st, t, us) =>
            val c = centsOf(t.price)
            val cum = st.cum + c
            val bar = (cum - 1L) / targetCents
            if (bar != st.bar && st.n > 0L)
              out += Bar(key, st.bar, st.open, st.high, st.low, st.close,
                st.n, st.cents, closed = true)
            if (bar != st.bar)
              BarState(us, t.sequence, cum, bar, t.price, t.price,
                t.price, t.price, 1L, c)
            else
              st.copy(lastUs = us, lastSeq = t.sequence, cum = cum,
                high = math.max(st.high, t.price),
                low = math.min(st.low, t.price),
                close = t.price, n = st.n + 1L, cents = st.cents + c)
          }
          folded.foreach(state.update)
          // the open bar is re-emitted even when no row was new
          for (st <- folded.orElse(prior) if st.n > 0L)
            out += Bar(key, st.bar, st.open, st.high, st.low, st.close,
              st.n, st.cents, closed = false)
          out.result().iterator
      }
  }
}
