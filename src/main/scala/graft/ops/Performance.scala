package graft.ops

import graft.config.StrategyConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed strategy performance metrics.
  *
  * Reference semantics: `flink_jobs/metrics/performance.py` —
  *   - position_returns: per-tick realized P&L and exposure (A6, :38-60)
  *   - performance_windows: 5-min TUMBLE aggregate set (A1, :62-100)
  *   - signal_counts: non-HOLD signals per window (A2, :102-118)
  *   - metrics_enriched: Sharpe (A3), Sortino (A4), drawdown=MIN pnl (A5),
  *     annualization ×√12 (:120-157)
  *
  * Design deviation (same results, one fewer shuffle): the reference joins
  * two separately-windowed aggregates (J2, performance.py:153-155). Both
  * group by the same tumbling window over the same tick stream, so we
  * compute the signal count as one more conditional aggregate in a single
  * `groupBy(window(...))` — at scale this removes a second full shuffle of
  * the stream plus a join. Flink windows are label-compatible with Spark's
  * `window()`: both align tumbling buckets to the epoch.
  */
object Performance {

  /** position_returns (performance.py:38-60). Input: Positions costs output
    * + the per-tick signal_type (for the inline A2 count).
    */
  def positionReturns(costs: DataFrame): DataFrame = {
    val absCost = abs(col("position_change")) * col("mid_price")
    costs.select(
      col("product_id"),
      col("event_time"),
      col("sequence"),
      col("mid_price"),
      coalesce(col("returns"), lit(0.0)).as("asset_return"),
      col("position"),
      col("prev_position"),
      col("position_change"),
      col("transaction_cost_rate"),
      col("slippage_rate"),
      col("trade_cost_rate"),
      (absCost * col("transaction_cost_rate")).as("transaction_cost"),
      (absCost * col("slippage_rate")).as("slippage_cost"),
      (absCost * col("trade_cost_rate")).as("trade_cost"),
      (coalesce(col("prev_position"), lit(0.0)) * coalesce(col("returns"), lit(0.0))
        - absCost * col("trade_cost_rate")).as("realized_pnl"),
      (abs(col("position")) * col("mid_price")).as("notional_exposure"),
      abs(col("position")).as("unit_exposure"),
      col("signal_type")
    )
  }

  /** performance_windows + signal_counts in ONE windowed aggregate
    * (performance.py:62-118). `signal_type` must be present on the input
    * rows (it is per-tick, exactly the rows crossover_signals would emit).
    *
    * Why this is NOT a custom TypedImperativeAggregate: the 13 Det
    * aggregates below already compile to a single partial/final
    * HashAggregate pair — one map-side pass accumulating primitive long
    * buffers inside whole-stage codegen, one Exchange of partial states
    * (`Explain metrics_5m` shows exactly HashAggregate → Exchange →
    * HashAggregate above the shared window Exchange). A typed imperative
    * aggregate would fuse nothing further and would evict the hot loop
    * from codegen (TypedImperativeAggregate buffers serialize between
    * update calls); metrics_5m's remaining cost is the rolling-operator
    * window pipeline it shares with the strategy, not the aggregation.
    *
    * Measured (sf0.1, warm medians of a one-off stage-by-stage probe):
    * upstream returns pipeline alone 0.93 s; + this aggregate 1.02 s;
    * + metrics finishing 1.08 s; Rollup.hourly on top 1.01 s. The
    * aggregate contributes ~90 ms of a ~1 s query — the ceiling on any
    * single-pass-Aggregator rewrite is 8%, and the codegen eviction it
    * would cause costs more than that.
    */
  def windows(returns: DataFrame, cfg: StrategyConfig): DataFrame =
    returns
      .groupBy(window(col("event_time"), cfg.metricsWindow).as("win"))
      .agg(
        // Additive aggregates go through Det (exact decimal sums) so the
        // shuffle-merge order of partial aggregates can't change the bits;
        // min/count are order-independent already.
        Det.avgD(col("realized_pnl"), 12).as("avg_return"),
        Det.stddevPopD(col("realized_pnl"), 5).as("volatility"),
        Det.sumD(col("realized_pnl"), 12).as("cumulative_return"),
        Det.sumSqWhereD(col("realized_pnl") < 0d, col("realized_pnl"), 5)
          .as("downside_sum"),
        count(col("realized_pnl")).as("sample_size"),
        count(when(col("realized_pnl") < 0d, lit(1))).as("negative_samples"),
        min(col("realized_pnl")).as("min_return"),
        Det.avgD(col("notional_exposure"), 9).as("avg_notional_exposure"),
        Det.avgD(col("unit_exposure"), 9).as("avg_unit_exposure"),
        Det.sumD(col("trade_cost"), 12).as("total_trade_cost"),
        Det.sumD(col("transaction_cost"), 12).as("total_transaction_cost"),
        Det.sumD(col("slippage_cost"), 12).as("total_slippage_cost"),
        // A2 folded in: COUNT(*) of non-HOLD signals per window.
        count(when(col("signal_type") =!= "HOLD", lit(1))).as("trades_executed")
      )
      .select(
        col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col("avg_return"), col("volatility"), col("cumulative_return"),
        col("downside_sum"), col("sample_size"), col("negative_samples"),
        col("min_return"), col("avg_notional_exposure"), col("avg_unit_exposure"),
        col("total_trade_cost"), col("total_transaction_cost"),
        col("total_slippage_cost"), col("trades_executed")
      )

  /** metrics_enriched (performance.py:120-157). */
  def metrics(windows: DataFrame, cfg: StrategyConfig): DataFrame = {
    val ann = sqrt(lit(12.0)) // hard-coded annualization, performance.py:129,134
    windows.select(
      lit(cfg.strategyRunId).as("strategy_run_id"),
      col("window_end").as("metric_time"),
      lit(cfg.metricsWindowLabel).as("window_label"),
      when(col("volatility").isNull || col("volatility") === 0d, lit(null).cast("double"))
        .otherwise(col("avg_return") / col("volatility") * ann).as("sharpe_ratio"),
      when(col("downside_sum").isNull || col("negative_samples") === 0L, lit(null).cast("double"))
        .otherwise(col("avg_return")
          / nullif(sqrt(col("downside_sum") / col("negative_samples")), lit(0.0)) * ann)
        .as("sortino_ratio"),
      col("cumulative_return"),
      col("min_return").as("drawdown"),
      col("volatility"),
      col("trades_executed"),
      col("avg_notional_exposure").as("avg_exposure_notional"),
      col("total_trade_cost"),
      col("total_transaction_cost"),
      col("total_slippage_cost"),
      to_json(map(
        lit("sample_size"), col("sample_size").cast("string"),
        lit("negative_samples"), col("negative_samples").cast("string"),
        lit("average_unit_exposure"), col("avg_unit_exposure").cast("string"),
        lit("total_trade_cost"), col("total_trade_cost").cast("string"),
        lit("total_transaction_cost"), col("total_transaction_cost").cast("string"),
        lit("total_slippage_cost"), col("total_slippage_cost").cast("string"),
        lit("execution_mode"), lit(cfg.executionMode)
      )).as("metadata")
    )
  }

  /** Full chain: costed positions (+ signal_type) → metric rows. */
  def apply(costsWithSignalType: DataFrame, cfg: StrategyConfig): DataFrame =
    metrics(windows(positionReturns(costsWithSignalType), cfg), cfg)
}
