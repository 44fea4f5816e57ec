package graft.streaming

import graft.config.StrategyConfig
import graft.ops.Normalize
import org.apache.spark.sql.streaming.GroupState

/** SmaCrossStrategy's rolling arithmetic for ONE instrument, one tick at a
  * time: the keyed form of the window columns of Normalize (returns,
  * volatility), SmaCross.enrich (fast/slow SMA, spread, prev_spread) and
  * Positions (position, prev_position), bit-identical to them.
  *
  * Every trailing sum is an exact running sum of grid integers — mid·10⁹
  * for the SMAs, mid·10⁴ and its square for the volatility numerator: add
  * the new tick's integer, subtract the one leaving the window. Integer
  * sums never round, so this equals Det's prefix difference bit for bit at
  * O(1) per tick; finishing replays Det's rule-3 sequence
  * (`(double)Σk / 10^s / n`, `sqrt(n·Σk² − (Σk)²) / (10⁴·n)`).
  *
  * Three callers share it: the flatMapGroupsWithState twins
  * [[StatefulSignals]] and [[StatefulExecutions]] (through [[SmaStep.foldGroup]],
  * state kept as [[SmaStep.State]]), and [[StreamingJob]]'s keyed step,
  * on both sides of its size gate.
  */
final class SmaStep(cfg: StrategyConfig, from: Option[SmaStep.State] = None) {
  import SmaStep._

  private val fastW = cfg.smaFastWindow
  private val slowW = cfg.smaSlowWindow
  private val volW = Normalize.VolatilityLookback
  private val lagN = cfg.confirmation
  private val cap = math.max(slowW, volW)

  private val st = from.fold(State(0L, new Array[Long](cap), new Array[Long](cap),
    new Array[Double](lagN + 1), 0L, 0L, 0L, 0L, 0d, 0d)) { s =>
    require(s.mids9.length == math.min(s.ticks, cap.toLong) && s.spreads.length == lagN + 1,
      "SmaStep state was written under different window sizes")
    s.copy(mids9 = java.util.Arrays.copyOf(s.mids9, cap), mids4 = java.util.Arrays.copyOf(s.mids4, cap))
  }
  private var n = st.ticks
  private var sumFast9 = st.sumFast9
  private var sumSlow9 = st.sumSlow9
  private var sum4 = st.sum4
  private var sumSq4 = st.sumSq4
  private var prevMid = st.prevMid
  private var prevPosition = st.prevPosition

  private def slot(i: Long): Int = (i % cap).toInt

  /** Fold one tick (ticks must arrive in (event_time, sequence) order). */
  def apply(mid: Double): Out = {
    val k9 = math.floor(mid * 1e9 + 0.5).toLong // Det.kl(mid, 9)
    val k4 = math.floor(mid * 1e4 + 0.5).toLong // Det.kl(mid, 4)
    // read each leaving value before this tick's slot is overwritten
    if (n >= fastW) sumFast9 -= st.mids9(slot(n - fastW))
    if (n >= slowW) sumSlow9 -= st.mids9(slot(n - slowW))
    if (n >= volW) { val o = st.mids4(slot(n - volW)); sum4 -= o; sumSq4 -= o * o }
    st.mids9(slot(n)) = k9
    st.mids4(slot(n)) = k4
    sumFast9 += k9; sumSlow9 += k9; sum4 += k4; sumSq4 += k4 * k4

    val fast = (sumFast9.toDouble / 1e9) / math.min(n + 1, fastW).toDouble
    val slow = (sumSlow9.toDouble / 1e9) / math.min(n + 1, slowW).toDouble
    val nv = math.min(n + 1, volW.toLong)
    // exact D = n·Σk² − (Σk)²; overflow throws, as the Det decimals would
    val d = Math.subtractExact(Math.multiplyExact(nv, sumSq4), Math.multiplyExact(sum4, sum4))
    val volatility = math.sqrt(d.toDouble) / (1e4 * nv.toDouble)
    val spread = fast - slow
    st.spreads((n % (lagN + 1)).toInt) = spread
    val prevSpread: java.lang.Double =
      if (n >= lagN) st.spreads(((n - lagN) % (lagN + 1)).toInt) else null
    val position =
      if (prevSpread == null) 0.0
      else if (spread > 0d && prevSpread <= 0d) 1.0
      else if (spread < 0d && prevSpread >= 0d) -1.0
      else 0.0
    val first = n == 0
    val out = Out(mid,
      if (first || prevMid == 0d) null else (mid - prevMid) / prevMid,
      volatility, fast, slow, spread, prevSpread, position,
      if (first) null else prevPosition)
    n += 1; prevMid = mid; prevPosition = position
    out
  }

  /** Snapshot for GroupState; a ring not yet full keeps only its filled
    * slots, so young keys store no more than the ticks they have seen. */
  def state: State = {
    val filled = math.min(n, cap.toLong).toInt
    State(n, java.util.Arrays.copyOf(st.mids9, filled), java.util.Arrays.copyOf(st.mids4, filled),
      st.spreads, sumFast9, sumSlow9, sum4, sumSq4, prevMid, prevPosition)
  }
}

object SmaStep {

  /** The folded columns of one tick; `null` where the batch window
    * function yields NULL (no previous tick, or fewer than
    * `confirmation` of them). */
  final case class Out(
      mid: Double, returns: java.lang.Double, volatility: Double,
      fastSma: Double, slowSma: Double, spread: Double,
      prevSpread: java.lang.Double, position: Double,
      prevPosition: java.lang.Double) {
    def signalType: String =
      if (position > 0) "LONG" else if (position < 0) "SHORT" else "HOLD"
  }

  /** Encodable step state: ticks folded, rings of the last
    * max(slow, lookback) grid integers (slot = tick index mod that
    * capacity; only the filled slots while fewer ticks were seen), the
    * last confirmation+1 spreads, and the four running sums. */
  final case class State(
      ticks: Long, mids9: Array[Long], mids4: Array[Long], spreads: Array[Double],
      sumFast9: Long, sumSlow9: Long, sum4: Long, sumSq4: Long,
      prevMid: Double, prevPosition: Double)

  /** GroupState of the twins: the step plus the key's high-water mark. */
  final case class KeyState(lastEventUs: Long, lastSeq: Long, sma: State)

  /** The twins' keyed shell: fold one key's micro-batch rows in exact
    * (event micros, sequence) order — rows at or behind the key's
    * high-water mark are dropped (watermark semantics) — emit through
    * `emit(row, eventMicros, folded)` and store the state. */
  def foldGroup[T, O](cfg: StrategyConfig, rows: Iterator[T], state: GroupState[KeyState])(
      time: T => java.sql.Timestamp, seq: T => Long, mid: T => Double)(
      emit: (T, Long, Out) => Option[O]): Iterator[O] = {
    val prior = state.getOption
    val step = new SmaStep(cfg, prior.map(_.sma))
    var lastUs = prior.fold(Long.MinValue)(_.lastEventUs)
    var lastSeq = prior.fold(Long.MinValue)(_.lastSeq)
    val out = Vector.newBuilder[O]
    // micro-batches are unordered; getTime truncates sub-ms, so sort on micros
    rows.map(t => (EventTime.micros(time(t)), t)).toVector
      .sortBy { case (us, t) => (us, seq(t)) }
      .foreach { case (us, t) =>
        if (us > lastUs || (us == lastUs && seq(t) > lastSeq)) {
          out ++= emit(t, us, step(mid(t)))
          lastUs = us; lastSeq = seq(t)
        }
      }
    state.update(KeyState(lastUs, lastSeq, step.state))
    out.result().iterator
  }
}
