package graft.ops

import graft.TestSpark
import graft.config.StrategyConfig
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Reference semantics: metrics/performance.py (A1-A6). */
class PerformanceSpec extends AnyFunSuite {
  import TestSpark._

  private val cfg = StrategyConfig(
    smaFastWindow = 2, smaSlowWindow = 4, smaConfirmationWindow = 1)

  private def metricsOf(prices: Seq[Double], stepSecs: Long = 30L) =
    Performance(Positions.costs(Positions.stream(
      SmaCross.enrich(Normalize(series("A", prices, stepSecs)), cfg)), cfg), cfg)

  test("flat series: zero pnl, zero volatility, NULL sharpe and sortino (A3, A4 guards)") {
    val m = metricsOf(Seq.fill(12)(100.0)).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getAs[Double]("volatility") == 0.0)
      assert(r.isNullAt(r.fieldIndex("sharpe_ratio")), "sharpe must be NULL when vol=0")
      assert(r.isNullAt(r.fieldIndex("sortino_ratio")), "sortino NULL when no negative samples")
      assert(r.getAs[Double]("cumulative_return") == 0.0)
    }
  }

  test("drawdown is the window MIN of realized pnl (A5) and trade costs accumulate (A6)") {
    val zigzag = Seq.fill(6)(100.0) ++ Seq(101.0, 102.0, 103.0, 104.0) ++
      Seq(103.0, 101.0, 99.0, 97.0, 95.0)
    val m = metricsOf(zigzag, 10L).collect()
    assert(m.nonEmpty)
    assert(m.map(_.getAs[Double]("drawdown")).min <= 0.0)
    assert(m.map(_.getAs[Double]("total_trade_cost")).sum > 0.0)
    m.foreach(r => assert(r.getAs[Double]("total_trade_cost") >=
      r.getAs[Double]("total_transaction_cost")))
    assert(m.map(_.getAs[Long]("trades_executed")).sum >= 2L) // LONG + SHORT (A2)
  }

  test("losses produce negative sharpe and sortino (A3, A4)") {
    // long position then steady decline → negative realized pnl ticks
    val prices = Seq.fill(6)(100.0) ++ Seq(101.0, 102.0, 103.0, 104.0) ++
      (1 to 20).map(i => 104.0 - i * 0.5)
    val m = metricsOf(prices, 10L).collect()
    assert(m.nonEmpty)
    assert(m.map(_.getAs[Double]("cumulative_return")).sum < 0.0)
    val sharpes = m.filterNot(_.isNullAt(m.head.fieldIndex("sharpe_ratio")))
      .map(_.getAs[Double]("sharpe_ratio"))
    assert(sharpes.nonEmpty && sharpes.forall(_ < 0.0))
  }

  test("hourly rollup aggregates metric windows (A7)") {
    val prices = (0 until 240).map(i => 100.0 + (i % 7))
    val metrics = metricsOf(prices, 60L) // 4 hours of minutely ticks
    val roll = Rollup.hourly(metrics).collect()
    assert(roll.length >= 4)
    val trades = metrics.collect().map(_.getAs[Long]("trades_executed")).sum
    assert(roll.map(_.getAs[Long]("total_trades")).sum == trades)
  }

  // -- the driver form of the windows against the Spark aggregate --------

  /** windowParts → combineWindows → finishWindows, as StreamingJob's
    * driver path runs them. */
  private def driverWindows(returns: DataFrame): DataFrame = {
    val parts = Performance.windowParts(returns, cfg)
    Performance.finishWindows(spark.createDataFrame(
      Performance.combineWindows(parts.collect().toSeq).asJava,
      Performance.windowSchema(parts.schema)))
  }

  /** Rows by window start, every double as its raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.toString)

  private def returnsOf(windows: Seq[Seq[PerformanceSpec.Ret]]): DataFrame = {
    val s = spark
    import s.implicits._
    windows.zipWithIndex.flatMap { case (rs, w) =>
      rs.zipWithIndex.map { case (r, j) =>
        r.copy(event_time = new java.sql.Timestamp(PerformanceSpec.Epoch + w * 300000L + j))
      }
    }.toDF()
  }

  test("driver combine + Spark finish equals Performance.windows bit for bit") {
    import PerformanceSpec.Ret
    val rnd = new scala.util.Random(11)
    def ret(pnl: java.lang.Double) = Ret(null, pnl, rnd.nextDouble() * 5e4,
      rnd.nextDouble() * 100, rnd.nextDouble(), rnd.nextDouble() * 0.5, rnd.nextDouble() * 0.1,
      if (rnd.nextInt(3) == 0) "HOLD" else "LONG")
    def pnl(): java.lang.Double = rnd.nextInt(6) match {
      case 0 => null
      case 1 => if (rnd.nextBoolean()) -0.0 else 0.0
      case _ => (rnd.nextDouble() - 0.5) * 2000
    }
    val special = Seq(
      Seq.fill(3)(ret(null)), // an all-null window
      Seq(ret(-3.25)), // one row
      Seq.fill(5)(ret(-rnd.nextDouble() * 900)), // only negative values
      Seq(-0.0, 0.0, 0.0).map(ret(_)), // a flat position: the first zero wins
      Seq(0.0, -0.0, 0.0).map(ret(_)))
    val generated = Seq.fill(12)(Seq.fill(1 + rnd.nextInt(40))(ret(pnl())))
    val returns = returnsOf(special ++ generated)
    val want = Performance.windows(returns.coalesce(1), cfg)
    val got = driverWindows(returns)
    assert(got.schema == want.schema)
    val (w, g) = (bits(want), bits(got))
    assert(g.size == special.size + generated.size)
    assert(g == w)
    // the sign of a zero min is kept as Spark keeps it
    assert(g(3)(8) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(g(4)(8) == java.lang.Double.doubleToRawLongBits(0.0))
  }

  test("a grid sum past a long throws on both sides") {
    // notional exposure 5e9 is the grid long 5e18 at scale 9: two of them overflow
    val r = PerformanceSpec.Ret(null, 1.0, 5e9, 1.0, 0.0, 0.0, 0.0, "HOLD")
    val returns = returnsOf(Seq(Seq(r, r)))
    intercept[Exception](Performance.windows(returns.coalesce(1), cfg).collect())
    intercept[ArithmeticException](driverWindows(returns))
  }
}

object PerformanceSpec {
  /** A 5-minute-aligned epoch (ms). */
  val Epoch = 1700000100000L

  /** One row of `Performance.positionReturns` as `windows` reads it. */
  final case class Ret(
      event_time: java.sql.Timestamp, realized_pnl: java.lang.Double,
      notional_exposure: java.lang.Double, unit_exposure: java.lang.Double,
      trade_cost: java.lang.Double, transaction_cost: java.lang.Double,
      slippage_cost: java.lang.Double, signal_type: String)
}
