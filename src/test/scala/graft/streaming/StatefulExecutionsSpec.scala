package graft.streaming

import graft.TestSpark
import graft.config.StrategyConfig
import graft.ops.{Normalize, Positions, SmaCross}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Live execution path (O(1) keyed state) must emit executions
  * bit-identical to the batch pipeline. */
class StatefulExecutionsSpec extends AnyFunSuite {
  import TestSpark._

  private val cfg = StrategyConfig(
    smaFastWindow = 3, smaSlowWindow = 6, smaConfirmationWindow = 1)

  private def price(i: Int) = 100.0 + 2.5 * math.sin(i / 6.0) + (i % 4) * 0.3

  test("streamed executions equal batch executions bit-for-bit") {
    val s = spark
    import s.implicits._
    val ins = for {
      p <- Seq("A", "B"); i <- 0 until 160
    } yield {
      val pr = price(i) + (if (p == "A") 0 else 3)
      // every 11th tick loses its book (error row): mid falls back to price
      val hasBook = i % 11 != 0
      // sub-ms micros (i*131 % 1000) — execution_time must add latency in
      // micro space like batch timestampadd, not truncate to getTime ms
      StatefulExecutions.TickIn(p, tsUs(i * 7000000L + (i * 131) % 1000), i.toLong, pr,
        if (hasBook) Double.box(pr * 0.999) else null,
        if (hasBook) Double.box(pr * 1.001) else null)
    }

    implicit val sq = s.sqlContext
    val ms = MemoryStream[StatefulExecutions.TickIn]
    val q = StatefulExecutions.executions(ms.toDS(), cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_exec").start()
    try {
      val sorted = ins.sortBy(t => (EventTime.micros(t.event_time), t.product_id))
      Seq(sorted.slice(0, 100), sorted.slice(100, 230), sorted.slice(230, 320))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    // build the batch input from the identical micro-precision timestamps
    val raw = ins.map(t => Tick(t.product_id, t.event_time, t.sequence,
      t.price, t.best_bid, t.best_ask)).toDF()
    val batch = Positions.executions(
      Positions.costs(Positions.stream(SmaCross.enrich(Normalize(raw), cfg)), cfg), cfg)
      .drop("metadata")

    def canon(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val streamed = s.table("stateful_exec")
      .select(batch.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().toSeq
    val expected = batch.collect().toSeq
    assert(expected.nonEmpty, "fixture must produce executions")
    assert(canon(streamed) == canon(expected))
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    val ins = for {
      p <- Seq("A", "B"); i <- 0 until 160
    } yield {
      val pr = price(i) + (if (p == "A") 0 else 3)
      val hasBook = i % 11 != 0
      StatefulExecutions.TickIn(p, tsUs(i * 7000000L + (i * 131) % 1000), i.toLong, pr,
        if (hasBook) Double.box(pr * 0.999) else null,
        if (hasBook) Double.box(pr * 1.001) else null)
    }

    implicit val sq = s.sqlContext
    val ms = MemoryStream[StatefulExecutions.TickIn]
    val q = StatefulExecutions.executions(ms.toDS(), cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_exec_replay").start()
    try {
      val sorted = ins.sortBy(t => (EventTime.micros(t.event_time), t.product_id))
      // replay an already-seen chunk, then strictly-older ticks
      Seq(sorted.slice(0, 180), sorted.slice(90, 180), sorted.slice(180, sorted.size),
          sorted.take(6))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val raw = ins.map(t => Tick(t.product_id, t.event_time, t.sequence,
      t.price, t.best_bid, t.best_ask)).toDF()
    val batch = Positions.executions(
      Positions.costs(Positions.stream(SmaCross.enrich(Normalize(raw), cfg)), cfg), cfg)
      .drop("metadata")

    def canon(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val streamed = s.table("stateful_exec_replay")
      .select(batch.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().toSeq
    assert(canon(streamed) == canon(batch.collect().toSeq))
  }
}
