package graft.streaming

import graft.config.StrategyConfig
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The latency-sensitive live trading path with O(1) keyed state: raw
  * tick → rolling SMAs/volatility → crossover signal → position change →
  * slippage/latency-costed execution, all inside one
  * `flatMapGroupsWithState` operator — nothing recomputed, one state
  * update per tick.
  *
  * The rolling columns come from the shared [[SmaStep]] (scaled-Long ring
  * buffers with running sums, exact Long variance numerator); the cost
  * formulas replay `Positions.costs`/`Positions.executions`
  * (sma_cross.py:235-354), so emitted executions are bit-identical to
  * the batch pipeline (StatefulExecutionsSpec).
  */
object StatefulExecutions {

  final case class TickIn(
      product_id: String, event_time: java.sql.Timestamp, sequence: Long,
      price: Double,
      best_bid: java.lang.Double, best_ask: java.lang.Double)

  final case class ExecutionOut(
      strategy_run_id: String, product_id: String,
      signal_time: java.sql.Timestamp, sequence: Long,
      execution_time: java.sql.Timestamp,
      position_change: Double, execution_price: Double, base_price: Double,
      transaction_cost: Double, slippage_cost: Double)

  def executions(ticks: Dataset[TickIn], cfg: StrategyConfig): Dataset[ExecutionOut] = {
    val spark = graft.io.LocalFs.session(ticks)
    import spark.implicits._
    ticks
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[SmaStep.KeyState, ExecutionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[SmaStep.KeyState]) =>
          val quoted = (t: TickIn) => t.best_bid != null && t.best_ask != null
          // P1 mid-price (sma_cross.py:67-70)
          val mid = (t: TickIn) =>
            if (quoted(t)) (t.best_bid.doubleValue + t.best_ask.doubleValue) / 2d else t.price
          SmaStep.foldGroup(cfg, rows, state)(_.event_time, _.sequence, mid) { (t, us, o) =>
            val change = o.position - (if (o.prevPosition == null) 0.0 else o.prevPosition.doubleValue)
            if (change == 0.0) None
            else {
              // P5-P9: ratio guards, clamped slippage/latency, exec price
              val volRatio = if (o.mid == 0d) 0.0 else o.volatility / o.mid
              val spreadRatio =
                if (o.mid == 0d || !quoted(t)) 0.0
                else (t.best_ask.doubleValue - t.best_bid.doubleValue) / o.mid
              val slip = math.max(0.0, math.min(cfg.slippageMaxRate,
                cfg.slippageRate + volRatio * cfg.slippageVolatilityMultiplier +
                  spreadRatio * cfg.slippageSpreadMultiplier))
              val latency = math.max(cfg.fillLatencyMs,
                math.min(cfg.fillLatencyMs + cfg.fillLatencyJitterMs,
                  cfg.fillLatencyMs + (cfg.fillLatencyVolatilityMs.toDouble * volRatio).toLong))
              val execPrice = if (change > 0) o.mid * (1.0 + slip) else o.mid * (1.0 - slip)
              // batch uses timestampadd(MILLISECOND, ...), which keeps the
              // event's sub-ms micros — add in micro space, not getTime ms
              Some(ExecutionOut(
                cfg.strategyRunId, key, t.event_time, t.sequence,
                EventTime.toTimestamp(us + latency * 1000L),
                change, execPrice, o.mid,
                math.abs(change) * o.mid * cfg.transactionCostRate,
                math.abs(change) * o.mid * slip))
            }
          }
      }
  }

  /** DataFrame adapter over raw ticks (Schemas.rawPrice shape). */
  def apply(raw: DataFrame, cfg: StrategyConfig): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    executions(
      raw.select(col("product_id"), col("event_time"),
        col("sequence").cast("long"), col("price").cast("double"),
        col("best_bid").cast("double"), col("best_ask").cast("double")).as[TickIn],
      cfg).toDF()
  }
}
