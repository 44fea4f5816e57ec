package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** StatefulDollarBars ≡ the batch dollar_bars query: closed bars plus
  * the final open-tail snapshot reproduce the batch prefix-clock bits,
  * across arbitrary micro-batch splits and a checkpoint restart. */
class StatefulDollarBarsSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulDollarBars.{Bar, TickIn}

  // small target → many bars from a short fixture (price ~100 → ~10^4
  // cents/tick → ~30 ticks/bar)
  private val Target = 300000L

  private val rows: Seq[TickIn] = for {
    (p, salt) <- Seq(("A", 3), ("B", 11))
    i <- 0 until 200
  } yield TickIn(p, ts(i * 7L + salt),
    i.toLong, 100.0 + ((i * 7919 + salt * 131) % 23 % 7) * 0.5)

  /** The batch query's exact formulation (BarQueries.dollarBars). */
  private def batchBars(df: DataFrame): Map[(String, Long), (Double, Double, Double, Double, Long, Long)] = {
    df.withColumn("cents", expr("cast(floor(price * 100 + 0.5) as long)"))
      .withColumn("bar",
        expr(s"(sum(cents) over (partition by product_id order by event_time, sequence rows between unbounded preceding and current row) - 1) div $Target"))
      .groupBy(col("product_id"), col("bar"))
      .agg(
        min_by(col("price"), struct(col("event_time"), col("sequence"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), struct(col("event_time"), col("sequence"))).as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col("cents")).as("notional_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getLong(7)))).toMap
  }

  private def reconstruct(out: Seq[Bar]): Map[(String, Long), (Double, Double, Double, Double, Long, Long)] = {
    val m = mutable.Map[(String, Long), Bar]()
    for (b <- out.sortBy(b => (b.closed, b.n_ticks))) // closed wins
      m((b.product_id, b.bar)) = b
    m.view.mapValues(b =>
      (b.open, b.high, b.low, b.close, b.n_ticks, b.notional_cents)).toMap
  }

  test("closed bars + open tail equal the batch prefix-clock bits across splits") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[TickIn]
    val q = StatefulDollarBars.bars(ms.toDS(), Target)
      .writeStream.format("memory").queryName("dbarsout").start()
    try {
      val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
      Seq(sorted.slice(0, 61), sorted.slice(61, 297), sorted.slice(297, sorted.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val got = reconstruct(s.table("dbarsout").as[Bar].collect().toSeq)
      val want = batchBars(rows.toDF())
      assert(want.size > 8, s"fixture must span several bars, got ${want.size}")
      assert(got == want, "streaming bars must equal the batch prefix-clock bits")
    } finally q.stop()
  }

  test("restart from checkpoint resumes the notional clock mid-bar") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dbars").toString
    val collected = mutable.ArrayBuffer[Bar]()
    val schema = rows.toDF().schema

    def runChunk(chunk: Seq[TickIn]): Unit = {
      chunk.toDF().coalesce(1).write.mode("append").parquet(base + "/src")
      val in = s.readStream.schema(schema).parquet(base + "/src").as[TickIn]
      val q = StatefulDollarBars.bars(in, Target).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Bar], _: Long) =>
          collected.synchronized { collected ++= df.collect() }; ()
        }
        .option("checkpointLocation", base + "/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }

    val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
    runChunk(sorted.take(143)) // split inside a bar: cum must survive
    runChunk(sorted.drop(143))
    assert(reconstruct(collected.toSeq) == batchBars(rows.toDF()),
      "a checkpoint restart must resume the prefix clock with the batch bits")
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[TickIn]
    val q = StatefulDollarBars.bars(ms.toDS(), Target)
      .writeStream.format("memory").queryName("dbarsreplay").start()
    try {
      val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
      // replay an already-seen chunk, then strictly-older ticks
      Seq(sorted.slice(0, 200), sorted.slice(80, 200), sorted.slice(200, sorted.size),
          sorted.take(4))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val got = reconstruct(s.table("dbarsreplay").as[Bar].collect().toSeq)
      assert(got == batchBars(rows.toDF()))
    } finally q.stop()
  }
}
