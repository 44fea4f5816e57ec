package graft.streaming

import graft.TestSpark
import graft.config.StrategyConfig
import graft.ops.{Normalize, SmaCross}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The keyed-ring-buffer streaming variant must produce bit-identical
  * SMAs/spreads/signals to the batch pipeline. */
class StatefulSignalsSpec extends AnyFunSuite {
  import TestSpark._

  private val cfg = StrategyConfig(
    smaFastWindow = 3, smaSlowWindow = 6, smaConfirmationWindow = 2)

  private def price(i: Int) = 100.0 + 2.5 * math.sin(i / 6.0) + (i % 4) * 0.3

  test("flatMapGroupsWithState signals equal batch signals bit-for-bit") {
    val s = spark
    import s.implicits._
    // sub-ms micros (i*131 % 1000): the state fold must sort/compare on
    // exact micros, not getTime ms (round-2 ADVICE)
    val ins = for {
      p <- Seq("A", "B"); i <- 0 until 150
    } yield StatefulSignals.TickIn(p, tsUs(i * 7000000L + (i * 131) % 1000), i.toLong,
      price(i) + (if (p == "A") 0 else 3))

    implicit val sq = s.sqlContext
    val ms = MemoryStream[StatefulSignals.TickIn]
    val q = StatefulSignals.signals(ms.toDS(), cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_signals").start()
    try {
      val sorted = ins.sortBy(t => (EventTime.micros(t.event_time), t.product_id))
      Seq(sorted.slice(0, 90), sorted.slice(90, 210), sorted.slice(210, 300))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val streamed = s.table("stateful_signals").collect()
      .map(r => (r.getAs[String]("product_id"), r.getAs[Long]("sequence")) ->
        (r.getAs[Double]("fast_sma"), r.getAs[Double]("slow_sma"),
          r.getAs[Double]("spread"), r.getAs[String]("signal_type"),
          r.getAs[Double]("position"))).toMap

    // batch reference: raw ticks (no bid/ask → mid = price) through the
    // ops, built from the identical micro-precision timestamps
    val raw = ins.map(t =>
      Tick(t.product_id, t.event_time, t.sequence, t.mid_price, null, null)).toDF()
    val batch = SmaCross.enrich(Normalize(raw), cfg)
    val isLong = org.apache.spark.sql.functions.expr("spread > 0 AND prev_spread <= 0")
    val isShort = org.apache.spark.sql.functions.expr("spread < 0 AND prev_spread >= 0")
    import org.apache.spark.sql.functions._
    val ref = batch.select(col("product_id"), col("sequence"),
      col("fast_sma"), col("slow_sma"), col("spread"),
      when(isLong, "LONG").when(isShort, "SHORT").otherwise("HOLD").as("st"),
      when(isLong, 1.0).when(isShort, -1.0).otherwise(0.0).as("pos"))
      .collect()
      .map(r => (r.getAs[String]("product_id"), r.getAs[Long]("sequence")) ->
        (r.getAs[Double]("fast_sma"), r.getAs[Double]("slow_sma"),
          r.getAs[Double]("spread"), r.getAs[String]("st"),
          r.getAs[Double]("pos"))).toMap

    assert(streamed.keySet == ref.keySet)
    streamed.keySet.foreach { k =>
      assert(streamed(k) == ref(k), s"row $k must match batch bit-for-bit")
    }
  }

  test("late rows behind the key's state are dropped, not reprocessed") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[StatefulSignals.TickIn]
    val q = StatefulSignals.signals(ms.toDS(), cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_late").start()
    try {
      ms.addData((0 until 10).map(i =>
        StatefulSignals.TickIn("A", ts(i * 10L), i.toLong, 100.0 + i)))
      q.processAllAvailable()
      ms.addData(Seq(StatefulSignals.TickIn("A", ts(5L), 99L, 500.0))) // stale
      q.processAllAvailable()
    } finally q.stop()
    val rows = s.table("stateful_late").collect()
    assert(rows.length == 10)
    assert(!rows.exists(_.getAs[Long]("sequence") == 99L))
  }

  test("a checkpoint written under Hadoop's stock LocalFs restarts under LocalFs's binding") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    val key = "fs.AbstractFileSystem.file.impl"
    val stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName
    val before = conf.get(key)
    val ins = for {
      p <- Seq("A", "B"); i <- 0 until 60
    } yield StatefulSignals.TickIn(p, tsUs(i * 7000000L + (i * 131) % 1000), i.toLong,
      price(i) + (if (p == "A") 0 else 3))
    val base = java.nio.file.Files.createTempDirectory("graft-signals-fs").toString
    val srcDir = base + "/src"
    val collected = scala.collection.mutable.ArrayBuffer[StatefulSignals.SignalOut]()

    // the first half commits its offsets and state through Hadoop's stock
    // LocalFs; the restart reads them back through the bound one
    def runChunk(chunk: Seq[StatefulSignals.TickIn], fsClass: String): Unit = {
      chunk.toDF().coalesce(1).write.mode("append").parquet(srcDir)
      val in = s.readStream.schema(ins.toDF().schema).parquet(srcDir).as[StatefulSignals.TickIn]
      val out = StatefulSignals.signals(in, cfg)
      conf.set(key, fsClass)
      val q = out.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulSignals.SignalOut], _: Long) =>
          collected.synchronized { collected ++= df.collect() }; ()
        }
        .option("checkpointLocation", base + "/ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    val sorted = ins.sortBy(t => (EventTime.micros(t.event_time), t.product_id))
    try {
      runChunk(sorted.take(50), stock)
      runChunk(sorted.drop(50), classOf[graft.io.LocalFs.Checksummed].getName)
    } finally conf.set(key, before)
    assert(new java.io.File(base + "/ckpt/state/0/0").exists, "the first half must have committed state")

    val streamed = collected.map(o => (o.product_id, o.sequence) ->
      (o.fast_sma, o.slow_sma, o.spread, o.signal_type, o.position)).toMap
    val raw = ins.map(t =>
      Tick(t.product_id, t.event_time, t.sequence, t.mid_price, null, null)).toDF()
    val isLong = expr("spread > 0 AND prev_spread <= 0")
    val isShort = expr("spread < 0 AND prev_spread >= 0")
    val ref = SmaCross.enrich(Normalize(raw), cfg).select(col("product_id"), col("sequence"),
      col("fast_sma"), col("slow_sma"), col("spread"),
      when(isLong, "LONG").when(isShort, "SHORT").otherwise("HOLD"),
      when(isLong, 1.0).when(isShort, -1.0).otherwise(0.0))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5), r.getDouble(6))).toMap
    assert(collected.size == ref.size && streamed == ref,
      "the restarted stream must equal batch bit-for-bit")
  }
}
