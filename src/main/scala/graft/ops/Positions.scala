package graft.ops

import graft.config.StrategyConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Position tracking + simulated execution cost model.
  *
  * Reference semantics: `positions_base` → `positions_stream` →
  * `positions_enriched` → `positions_costs` views plus the executions /
  * positions sinks (`flink_jobs/strategies/sma_cross.py:186-395`).
  *
  * Design deviation (same results, fewer shuffles): the reference attaches
  * signal positions to ticks via a LEFT self-join on exact
  * `(product_id, event_time)` (J1, sma_cross.py:186-207). Since
  * `crossover_signals` is derived row-for-row from the same tick stream, the
  * join always matches; we compute `signal_position` inline in the same
  * window stage instead — eliminating a whole shuffle+join of the stream
  * against itself, which at 100 TB is the difference between one Exchange
  * and three.
  */
object Positions {

  /** positions_base + positions_stream (sma_cross.py:186-233): bid/ask
    * spread, per-tick signal position, forward-filled position.
    * Input: SmaCross.enrich output (normalized + fast/slow/spread/prev_spread).
    */
  def stream(enriched: DataFrame): DataFrame =
    // W6 forward-fill (sma_cross.py:223-230). signal_position is never
    // null here (HOLD rows carry 0.0), so this equals the current row's
    // value — kept as last(ignoreNulls) for semantic fidelity with the
    // reference construct.
    streamRows(enriched, coalesce(
      last(col("signal_position"), ignoreNulls = true)
        .over(Ticks.byInstrument.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      lit(0.0)))

  /** The per-row part of [[stream]] around its one window column,
    * `position`: the forward-fill above, or the column a keyed step
    * already folded (StreamingJob's driver path passes `col("position")`). */
  def streamRows(enriched: DataFrame, position: Column): DataFrame = {
    val isLong = col("spread") > 0d && col("prev_spread") <= 0d
    val isShort = col("spread") < 0d && col("prev_spread") >= 0d
    enriched
      .withColumn("signal_position",
        when(isLong, lit(1.0)).when(isShort, lit(-1.0)).otherwise(lit(0.0)))
      // Carried so Performance can fold the reference's signal_counts window
      // (A2) into the same aggregate instead of re-shuffling (see Performance).
      .withColumn("signal_type",
        when(isLong, lit("LONG")).when(isShort, lit("SHORT")).otherwise(lit("HOLD")))
      // bid/ask spread (positions_base, sma_cross.py:198-201); shadows the
      // SMA spread from here on, exactly like the reference's column reuse.
      .withColumn("spread",
        when(col("best_bid").isNotNull && col("best_ask").isNotNull,
          col("best_ask") - col("best_bid")).otherwise(lit(null).cast("double")))
      .withColumn("position", position)
      .drop("signal_position", "price", "fast_sma", "slow_sma", "prev_spread")
  }

  /** positions_enriched + positions_costs (sma_cross.py:235-314): prev
    * position, position change, NULL/0-guarded ratios (P5), clamped dynamic
    * slippage (P6) and fill latency (P7).
    */
  def costs(positions: DataFrame, cfg: StrategyConfig): DataFrame =
    costRows(positions, cfg, lag(col("position"), 1).over(Ticks.byInstrument))

  /** The per-row part of [[costs]] around its one window column,
    * `prev_position`: the lag above, or a folded column. */
  def costRows(positions: DataFrame, cfg: StrategyConfig, prevPosition: Column): DataFrame = {
    val volRatio =
      when(col("mid_price").isNull || col("mid_price") === 0d, lit(0.0))
        .otherwise(coalesce(col("volatility"), lit(0.0)) / col("mid_price"))
    val spreadRatio =
      when(col("mid_price").isNull || col("mid_price") === 0d || col("spread").isNull, lit(0.0))
        .otherwise(col("spread") / col("mid_price"))
    val slipComponents = lit(cfg.slippageRate) +
      col("volatility_ratio") * lit(cfg.slippageVolatilityMultiplier) +
      col("spread_ratio") * lit(cfg.slippageSpreadMultiplier)
    // CASE <0 → 0 / >max → max (sma_cross.py:270-275) ≡ greatest/least.
    val slippage = greatest(lit(0.0), least(lit(cfg.slippageMaxRate), slipComponents))
    // CAST(volatility_ms * ratio AS BIGINT) truncates toward zero in both
    // Flink and Spark; ratio is clamped nonnegative upstream so trunc=floor.
    val latencyInc = (lit(cfg.fillLatencyVolatilityMs.toDouble) * col("volatility_ratio")).cast("long")
    val latency = greatest(
      lit(cfg.fillLatencyMs),
      least(lit(cfg.fillLatencyMs + cfg.fillLatencyJitterMs), lit(cfg.fillLatencyMs) + latencyInc))

    positions
      .withColumn("prev_position", prevPosition)
      .withColumn("position_change", col("position") - coalesce(col("prev_position"), lit(0.0)))
      .withColumn("volatility_ratio", volRatio)
      .withColumn("spread_ratio", spreadRatio)
      .withColumn("slippage_rate", slippage)
      .withColumn("transaction_cost_rate", lit(cfg.transactionCostRate))
      .withColumn("trade_cost_rate", slippage + lit(cfg.transactionCostRate))
      .withColumn("fill_latency_ms", latency)
  }

  /** Executions sink rows (sma_cross.py:320-354): only ticks with a
    * position change (P10); execution shifted by simulated fill latency
    * (P9) at a slippage-adjusted price (P8).
    */
  def executions(costs: DataFrame, cfg: StrategyConfig): DataFrame =
    costs
      .filter(col("position_change") =!= 0d)
      .select(
        lit(cfg.strategyRunId).as("strategy_run_id"),
        col("product_id"),
        col("event_time").as("signal_time"),
        col("sequence"),
        expr("timestampadd(MILLISECOND, fill_latency_ms, event_time)").as("execution_time"),
        col("position_change"),
        when(col("position_change") > 0d, col("mid_price") * (lit(1.0) + col("slippage_rate")))
          .when(col("position_change") < 0d, col("mid_price") * (lit(1.0) - col("slippage_rate")))
          .otherwise(col("mid_price"))
          .as("execution_price"),
        col("mid_price").as("base_price"),
        (abs(col("position_change")) * col("mid_price") * lit(cfg.transactionCostRate))
          .as("transaction_cost"),
        (abs(col("position_change")) * col("mid_price") * col("slippage_rate"))
          .as("slippage_cost"),
        to_json(map(
          lit("fill_latency_ms"), col("fill_latency_ms").cast("string"),
          lit("slippage_rate"), col("slippage_rate").cast("string"),
          lit("execution_mode"), lit(cfg.executionMode)
        )).as("metadata")
      )

  /** Positions sink rows (sma_cross.py:356-379): only transitions (P11). */
  def transitions(costs: DataFrame, cfg: StrategyConfig): DataFrame =
    costs
      .filter(col("prev_position").isNull || col("position") =!= col("prev_position"))
      .select(
        lit(cfg.strategyRunId).as("strategy_run_id"),
        col("product_id"),
        col("event_time"),
        col("sequence"),
        col("position"),
        col("position_change"),
        (abs(col("position_change")) * col("mid_price") * lit(cfg.transactionCostRate))
          .as("transaction_cost"),
        (abs(col("position_change")) * col("mid_price") * col("slippage_rate"))
          .as("slippage_cost"),
        (abs(col("position_change")) * col("mid_price") * col("trade_cost_rate"))
          .as("trade_cost"),
        col("mid_price"),
        to_json(map(
          lit("prev_position"), coalesce(col("prev_position"), lit(0.0)).cast("string"),
          lit("transaction_cost_bps"), lit(cfg.transactionCostBps.toString),
          lit("slippage_bps"), lit(cfg.slippageBps.toString),
          lit("effective_slippage_rate"), col("slippage_rate").cast("string"),
          lit("execution_mode"), lit(cfg.executionMode)
        )).as("metadata")
      )

  /** Full chain from raw ticks to the costed position stream. */
  def apply(raw: DataFrame, cfg: StrategyConfig): DataFrame =
    costs(stream(SmaCross.enrich(Normalize(raw), cfg)), cfg)
}
