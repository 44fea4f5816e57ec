package graft.streaming

import graft.TestSpark
import graft.config.StrategyConfig
import graft.ops.Performance
import org.apache.spark.sql.{DataFrame, LocalPlan, LocalRebind, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, rand, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** The driver path's compiled sink plans ([[LocalPlan]]) against
  * Catalyst's own evaluation of the same analysed plans over the same
  * rows: every double compared by its raw bits, every string (the
  * `to_json` metadata) exactly. */
class SinkPlansSpec extends AnyFunSuite {
  import TestSpark._

  private val cfg = StrategyConfig(smaFastWindow = 3, smaSlowWindow = 6, smaConfirmationWindow = 1)
  private lazy val plans = new StreamingJob.SinkPlans(spark, cfg)

  private def d(x: Double): java.lang.Double = x
  private val nul: java.lang.Double = null

  /** Folded rows ([[StreamingJob.FoldedSchema]]): product, second, seq,
    * mid, bid, ask, returns, volatility, fast, slow, spread, prev_spread,
    * position, prev_position. Windows start at seconds -200, 100, 400. */
  private val folded: Seq[Row] = Seq[(String, Long, Long, Seq[java.lang.Double])](
    // first row of a key: no returns, volatility or previous position
    ("A", 0, 1, Seq(d(100), d(99.9), d(100.1), nul, nul, nul, nul, nul, nul, d(0), nul)),
    // no quotes, mid 0.0, -0.0 returns, a long signal: flat → long
    ("A", 10, 2, Seq(d(0), nul, nul, d(-0.0), d(0), d(1), d(0.5), d(0.5), d(-0.5), d(1), d(0))),
    // one quote missing, null volatility, long → short
    ("A", 20, 3, Seq(d(101), nul, d(101.2), d(0.01), nul, d(1), d(1.3), d(-0.3), d(0.5), d(-1), d(1))),
    // short → long
    ("A", 30, 4, Seq(d(100.5), d(100.4), d(100.6), d(-0.005), d(0.002), d(1.1), d(0.9), d(0.2),
      d(-0.3), d(1), d(-1))),
    // hold, -0.0 volatility
    ("A", 40, 5, Seq(d(100.7), d(100.6), d(100.8), d(0.002), d(-0.0), d(1.2), d(1), d(0.2),
      d(0.2), d(1), d(1))),
    ("B", 5, 1, Seq(d(50), d(49.9), d(50.1), nul, nul, nul, nul, nul, nul, d(-1), nul)),
    // -0.0 returns held short: a zero realized pnl
    ("B", 15, 2, Seq(d(50.2), d(50.1), d(50.3), d(-0.0), d(0.001), d(1), d(1.1), d(-0.1),
      d(-0.2), d(-1), d(-1))),
    // window [100, 400): only negative pnl
    ("A", 150, 6, Seq(d(99), d(98.9), d(99.1), d(-0.01), d(0.003), d(1.1), d(1), d(0.1), d(0.2),
      d(1), d(1))),
    ("A", 160, 7, Seq(d(98), d(97.9), d(98.1), d(-0.0101), d(0.004), d(1), d(1.1), d(-0.1),
      d(0.1), d(-1), d(1))),
    ("B", 170, 3, Seq(d(51), nul, nul, d(0.02), nul, d(1), d(1.2), d(-0.2), d(-0.1), d(-1),
      d(-1))),
    // window [400, 700): one row, mid 0.0
    ("B", 450, 4, Seq(d(0), nul, nul, nul, nul, nul, nul, d(0.3), d(-0.2), d(1), d(-1)))
  ).map { case (p, sec, seq, ds) => Row.fromSeq(Seq(p, ts(sec), seq) ++ ds) }

  /** Catalyst's evaluation of `p`'s analysed plan over `rows`: a
    * one-partition frame that is no `LocalRelation`, so a Spark task runs
    * the generated code, in the rows' order. */
  private def catalyst(p: LocalPlan, rows: Seq[Row]): Seq[Row] = {
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), p.leaf.schema)
    LocalRebind.onto(Seq(p.plan), Seq(p.leaf -> in)).head.collect().toSeq
  }

  /** A row's values with every double as its raw bits. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case x: java.lang.Double => f"${java.lang.Double.doubleToRawLongBits(x)}%016x"
    case v => v
  }

  private def assertBits(got: Seq[Row], want: Seq[Row], what: String): Unit = {
    assert(got.map(bits) == want.map(bits), what)
  }

  test("every compiled row sink equals Catalyst over the same rows, bit for bit") {
    Seq(folded, Nil).foreach { rows =>
      val frames = plans.local(rows, Nil)
      plans.localRows.zip(frames).zip(Seq("normalized", "signals", "positions", "executions"))
        .foreach { case ((p, df), name) => assertBits(df.collect().toSeq, catalyst(p, rows), name) }
    }
    val filtered = plans.local(folded, Nil).slice(1, 4).map(_.count())
    assert(filtered.forall(n => n > 0 && n < folded.size), s"every filter keeps and drops: $filtered")
  }

  test("parts, combine and finish equal Catalyst's parts and finish, bit for bit") {
    Seq(folded, Nil).foreach { rows =>
      val parts = catalyst(plans.localParts, rows)
      assertBits(plans.localParts.rows(rows), parts, "parts")
      val perWindow = Performance.combineWindows(parts)
      assertBits(plans.local(Nil, rows)(4).collect().toSeq,
        catalyst(plans.localFinish, perWindow), "metrics")
    }
    val metrics = plans.local(Nil, folded)(4).collect()
    assert(metrics.length == 3)
    assert(metrics.exists(_.getAs[String]("metadata")
      .contains("\"sample_size\":\"3\",\"negative_samples\":\"3\"")), "a window of only negative pnl")
  }

  test("the driver metrics equal Spark's windowed aggregate over the same rows") {
    val in = spark.createDataFrame(spark.sparkContext.parallelize(folded, 2), StreamingJob.FoldedSchema)
    val want = plans.distributed(in, in)(4).collect().map(bits).map(_.mkString("|")).sorted
    assert(plans.local(Nil, folded)(4).collect().map(bits).map(_.mkString("|")).sorted.toSeq ==
      want.toSeq)
  }

  test("a plan that is not Project/Filter over its leaf, or is nondeterministic, is refused") {
    val leaf = LocalRebind.template(spark, StreamingJob.FoldedSchema)
    def refused(df: DataFrame, inPlan: String): Unit = {
      val e = intercept[IllegalArgumentException](new LocalPlan(df, leaf))
      assert(e.getMessage.contains(inPlan), e.getMessage)
    }
    refused(leaf.groupBy("product_id").count(), "Aggregate [product_id")
    refused(leaf.withColumn("n", row_number().over(Window.partitionBy("product_id")
      .orderBy("sequence"))), "row_number()")
    refused(leaf.withColumn("r", rand(7)), "rand(7)")
    refused(leaf.filter(rand(7) > 0.5 && col("mid_price") > 0d), "rand(7)")
  }
}
