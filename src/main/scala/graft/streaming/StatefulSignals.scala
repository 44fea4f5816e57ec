package graft.streaming

import graft.config.StrategyConfig
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** True per-row streaming signal generation with keyed state — the
  * `flatMapGroupsWithState` alternative to StreamingJob's carried tail
  * (SURVEY §4: Flink's StreamExecOverAggregate has no Spark physical
  * equivalent; the two idiomatic replacements are (a) foreachBatch that
  * refolds a carried raw tail with each batch [StreamingJob] and (b) a
  * per-key ring buffer of the last slow-window mids [this]). Use (b) when
  * per-event latency matters more than full-sink fan-out: each tick is one
  * [[SmaStep]], O(1) with running exact sums, and nothing is refolded.
  *
  * Numeric contract: identical bits to the batch pipeline. Sums are kept
  * as exact scaled Longs (mid·10⁹ for SMAs, grid integers for the
  * variance numerator — same grids as Det), and finishing replays Det's
  * rule-3 sequence (`(double)Σk / 10^s / n`, each op correctly rounded).
  * StatefulSignalsSpec asserts equality with the batch SmaCross output.
  *
  * Event-time caveat: rows fold through [[KeyedFold]], ordered within
  * each micro-batch per key; rows arriving after their key's state has
  * advanced past them are dropped (watermark-style), unlike
  * StreamingJob, which refolds its carried tail and so can reorder
  * within it.
  */
object StatefulSignals {

  final case class TickIn(
      product_id: String, event_time: java.sql.Timestamp, sequence: Long,
      mid_price: Double)

  final case class SignalOut(
      product_id: String, event_time: java.sql.Timestamp, sequence: Long,
      mid_price: Double, fast_sma: Double, slow_sma: Double,
      spread: Double, signal_type: String, position: Double)

  def signals(ticks: Dataset[TickIn], cfg: StrategyConfig): Dataset[SignalOut] = {
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[SmaStep.KeyState, SignalOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[SmaStep.KeyState]) =>
          SmaStep.foldGroup(cfg, rows, state)(_.event_time, _.sequence, _.mid_price) {
            (t, _, o) => Some(SignalOut(key, t.event_time, t.sequence, t.mid_price,
              o.fastSma, o.slowSma, o.spread, o.signalType, o.position))
          }
      }
  }

  /** DataFrame adapter: normalized ticks (mid_price present) → signals. */
  def apply(normalized: DataFrame, cfg: StrategyConfig): DataFrame = {
    val spark = normalized.sparkSession
    import spark.implicits._
    signals(
      normalized.select(col("product_id"), col("event_time"),
        col("sequence").cast("long"), col("mid_price")).as[TickIn],
      cfg).toDF()
  }
}
