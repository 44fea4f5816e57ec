package graft.ops

import graft.config.StrategyConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

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
    * Each aggregate is a [[Det.Split]]: exact parts (long grid sums,
    * counts, a min) and a finish over them, e.g. `(double)Σk / 10^s / n`.
    * Here the finish reads Spark's aggregates of the parts, which is the
    * plain Det builder; the driver form ([[windowParts]],
    * [[combineWindows]], [[finishWindows]]) combines the same parts in
    * Scala and applies the same finish, with no Spark job.
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
  def windows(returns: DataFrame, cfg: StrategyConfig): DataFrame = {
    val aggs = Aggregates.map { case (name, a) => a.agg.as(name) }
    returns
      .groupBy(window(col("event_time"), cfg.metricsWindow).as("win"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("win.start").as("window_start") +: col("win.end").as("window_end") +:
        Aggregates.map { case (name, _) => col(name) }: _*)
  }

  /** The window aggregates, in output order. Additive aggregates go
    * through Det (exact long grid sums) so the shuffle-merge order of
    * partial aggregates can't change the bits; count is order-independent
    * already, and min is too up to the sign of a zero. */
  private val Aggregates: Seq[(String, Det.Split)] = {
    val pnl = col("realized_pnl")
    Seq(
      "avg_return" -> Det.Split.avgD(pnl, 12),
      "volatility" -> Det.Split.stddevPopD(pnl, 5),
      "cumulative_return" -> Det.Split.sumD(pnl, 12),
      "downside_sum" -> Det.Split.sumSqWhereD(pnl < 0d, pnl, 5),
      "sample_size" -> Det.Split.count(pnl),
      "negative_samples" -> Det.Split.count(when(pnl < 0d, lit(1))),
      "min_return" -> Det.Split.min(pnl),
      "avg_notional_exposure" -> Det.Split.avgD(col("notional_exposure"), 9),
      "avg_unit_exposure" -> Det.Split.avgD(col("unit_exposure"), 9),
      "total_trade_cost" -> Det.Split.sumD(col("trade_cost"), 12),
      "total_transaction_cost" -> Det.Split.sumD(col("transaction_cost"), 12),
      "total_slippage_cost" -> Det.Split.sumD(col("slippage_cost"), 12),
      // A2 folded in: COUNT(*) of non-HOLD signals per window.
      "trades_executed" -> Det.Split.count(when(col("signal_type") =!= "HOLD", lit(1))))
  }

  /** Every aggregate's parts in order, named `p0`, `p1`, …. */
  private val Parts: Seq[(String, Det.Part)] =
    Aggregates.flatMap(_._2.parts).zipWithIndex.map { case (p, i) => s"p$i" -> p }

  /** Driver form of [[windows]], step 1: each returns row's window bounds
    * and per-row parts, a Project with no aggregate (over a
    * `LocalRelation` the optimizer evaluates it without a Spark job). */
  def windowParts(returns: DataFrame, cfg: StrategyConfig): DataFrame =
    returns
      .select(window(col("event_time"), cfg.metricsWindow).as("win") +:
        Parts.map { case (name, p) => p.in.as(name) }: _*)
      .select(col("win.start").as("window_start") +: col("win.end").as("window_end") +:
        Parts.map { case (name, _) => col(name) }: _*)

  /** Step 2: the schema of [[combineWindows]]' rows, from
    * [[windowParts]]' schema: each part keeps Spark's aggregate type. */
  def windowSchema(parts: StructType): StructType =
    StructType(parts.fields.take(2) ++ Parts.map { case (name, p) =>
      p.combine.field(parts(name)) })

  /** Step 2: [[windowParts]]' rows combined per window, in Scala, folded
    * in the rows' order; windows in order of their first row. */
  def combineWindows(rows: Seq[Row]): Seq[Row] = {
    val combines = Parts.map(_._2.combine).toArray
    val acc = mutable.LinkedHashMap[(Any, Any), Array[Any]]()
    rows.foreach { r =>
      val a = acc.getOrElseUpdate((r.get(0), r.get(1)), combines.map(_.zero))
      combines.indices.foreach(i => a(i) = combines(i).add(a(i), r.get(i + 2)))
    }
    acc.iterator.map { case ((start, end), a) => Row.fromSeq(start +: end +: a.toSeq) }.toSeq
  }

  /** Step 3: [[windows]]' output from per-window rows of
    * [[windowSchema]], by the same finish expressions — a Project. */
  def finishWindows(perWindow: DataFrame): DataFrame = {
    val parts = Parts.iterator.map { case (name, _) => col(name) }
    perWindow.select(col("window_start") +: col("window_end") +:
      Aggregates.map { case (name, a) => a.finish(a.parts.map(_ => parts.next())).as(name) }: _*)
  }

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
