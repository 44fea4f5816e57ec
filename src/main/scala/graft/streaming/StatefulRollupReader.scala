package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Live continuous-aggregate reader for the hourly metrics rollup — the
  * streaming end of [[graft.ops.Rollup]]'s partials design and the
  * engine's answer to TimescaleDB's 15-minute refresh policy
  * (`docker/postgres/init/03_continuous_aggregates.sql:17-22`): each
  * metric row folds into the per-(run, hour-bucket) PARTIAL state —
  * grid-long sums, counts, max picks, all associative AND commutative —
  * and every change emits the FINALIZED row with
  * [[graft.ops.Rollup.finalizeHourly]]'s exact finishing sequence, so
  * the latest upsert per key always equals `Rollup.hourly` over the
  * rows ingested so far, bit for bit, at any micro-batch chunking and
  * across a checkpoint restart (StatefulRollupReaderSpec — the 32nd
  * batch≡stream twin).
  *
  * Why the fold can run in arrival order: every partial field is
  * order-free — Σk and counts commute, max over (time, value) structs
  * picks TimescaleDB's LAST(value, time) without a sort (ties on time
  * break on value, mirroring the batch struct max) — so unlike the
  * sequence-gated twins (drawdown, signals) no per-batch sort is
  * needed, and late rows are not "late" at all: they merge exactly like
  * Rollup.mergeHourly merges a history slice. */
object StatefulRollupReader {

  final case class MetricIn(strategy_run_id: String,
                            metric_time: java.sql.Timestamp,
                            sharpe_ratio: Option[Double],
                            sortino_ratio: Option[Double],
                            cumulative_return: Double,
                            drawdown: Double,
                            trades_executed: Long)

  final case class RollState(sharpeK: Long, sharpeN: Long,
                             sortinoK: Long, sortinoN: Long,
                             lastUs: Long, lastCum: Double,
                             maxDd: Double, trades: Long)

  final case class RollOut(strategy_run_id: String,
                           bucket: java.sql.Timestamp,
                           avg_sharpe: Option[Double],
                           avg_sortino: Option[Double],
                           last_cumulative_return: Double,
                           max_drawdown: Double,
                           total_trades: Long)

  /** Same grid as Rollup.AvgScale = 6. */
  private val Pow = 1e6
  private val HourUs = 3600000000L

  /** Same grid mapping as Det.kl(c, 6) — pure IEEE, exact < 2^53. */
  private def kl(x: Double): Long = math.floor(x * Pow + 0.5).toLong

  class Processor extends StatefulProcessor[(String, Long), MetricIn, RollOut] {
    @transient private var state: ValueState[RollState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RollState]("rollup",
        Encoders.product[RollState], TTLConfig.NONE)

    override def handleInputRows(key: (String, Long), rows: Iterator[MetricIn],
                                 timerValues: TimerValues): Iterator[RollOut] = {
      var st = Option(state.get()).getOrElse(
        RollState(0L, 0L, 0L, 0L, Long.MinValue, Double.NegativeInfinity, Double.NegativeInfinity, 0L))
      val before = st
      for (m <- rows) {
        val us = EventTime.micros(m.metric_time)
        val takeLast = us > st.lastUs || (us == st.lastUs && m.cumulative_return > st.lastCum)
        st = RollState(
          st.sharpeK + m.sharpe_ratio.map(kl).getOrElse(0L),
          st.sharpeN + (if (m.sharpe_ratio.isDefined) 1L else 0L),
          st.sortinoK + m.sortino_ratio.map(kl).getOrElse(0L),
          st.sortinoN + (if (m.sortino_ratio.isDefined) 1L else 0L),
          if (takeLast) us else st.lastUs,
          if (takeLast) m.cumulative_return else st.lastCum,
          math.max(st.maxDd, m.drawdown),
          st.trades + m.trades_executed)
      }
      state.update(st)
      if (st != before) {
        // finalizeHourly's exact sequence: (double)Σk / 10^s / (double)n
        def fin(k: Long, n: Long): Option[Double] =
          if (n > 0) Some(k.toDouble / Pow / n.toDouble) else None
        Iterator.single(RollOut(key._1,
          EventTime.toTimestamp(key._2),
          fin(st.sharpeK, st.sharpeN), fin(st.sortinoK, st.sortinoN),
          st.lastCum, st.maxDd, st.trades))
      } else Iterator.empty
    }
  }

  def hourly(metrics: Dataset[MetricIn]): Dataset[RollOut] = {
    val spark = graft.io.LocalFs.session(metrics)
    import spark.implicits._
    metrics
      .groupByKey(m => (m.strategy_run_id,
        // epoch-aligned hour bucket == window(metric_time, "1 hour").start
        Math.floorDiv(EventTime.micros(m.metric_time), HourUs) * HourUs))
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append())
  }
}
