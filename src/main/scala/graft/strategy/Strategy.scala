package graft.strategy

import graft.config.StrategyConfig
import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The five output streams every strategy produces — mirrors the
  * reference's five INSERTs (normalized ticks, non-HOLD signal decisions,
  * position transitions, executions, windowed metrics; see SURVEY §2.8 T7,
  * flink_jobs/strategies/sma_cross.py:111-395, metrics/performance.py:159-201).
  */
final case class StrategyOutputs(
    normalized: DataFrame,
    signals: DataFrame,
    positions: DataFrame,
    executions: DataFrame,
    metrics: DataFrame)

/** A strategy is a pure function raw ticks → outputs, identical in batch
  * and streaming (the reference's backtest-replays-the-same-pipeline idea,
  * sma_cross.py:43-52, made structural).
  */
trait Strategy {
  def name: String
  def apply(raw: DataFrame, cfg: StrategyConfig): StrategyOutputs
}

/** The reference's sole strategy (sma_cross.py build_pipeline). */
object SmaCrossStrategy extends Strategy {
  override val name = "sma_cross"

  override def apply(raw: DataFrame, cfg: StrategyConfig): StrategyOutputs = {
    val enriched = SmaCross.enrich(Normalize(raw), cfg)
    val costs = Positions.costs(Positions.stream(enriched), cfg)
    outputs(enriched, costs, Performance(costs, cfg), cfg)
  }

  /** The per-row half of the strategy: the five outputs from ticks that
    * carry every window column (`enriched`), their costed positions
    * (`costs`), and the metric rows — `Performance` over `costs` in
    * batch; StreamingJob's driver path passes folded rows and metrics
    * finished from windows it combined itself. */
  def outputs(enriched: DataFrame, costs: DataFrame, metrics: DataFrame,
              cfg: StrategyConfig): StrategyOutputs =
    StrategyOutputs(
      normalized = enriched.select(
        col("product_id"), col("event_time"), col("sequence"), col("mid_price"),
        col("best_bid"), col("best_ask"), col("returns"), col("volatility")),
      signals = SmaCross.signals(enriched, cfg)
        .filter(col("signal_type") =!= "HOLD"), // P12, sma_cross.py:393
      positions = Positions.transitions(costs, cfg),
      executions = Positions.executions(costs, cfg),
      metrics = metrics)
}

/** Name → strategy registry, mirroring the reference's module registry +
  * `register_strategy` (flink_jobs/strategies/__init__.py:6-26) and the
  * resolve-with-helpful-error contract (__main__.py:25-32).
  */
object StrategyRegistry {
  private val strategies =
    scala.collection.concurrent.TrieMap[String, Strategy](
      SmaCrossStrategy.name -> SmaCrossStrategy)

  def register(s: Strategy): Unit = strategies.put(s.name, s)

  def resolve(name: String): Strategy =
    strategies.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown strategy '$name'. Available: ${strategies.keys.toSeq.sorted.mkString(", ")}"))

  def available: Seq[String] = strategies.keys.toSeq.sorted
}
