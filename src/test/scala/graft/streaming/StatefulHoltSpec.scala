package graft.streaming

import graft.TestSpark
import graft.ops.Indicators
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Streaming Holt forecaster ≡ batch Indicators.holtPerKey bits. */
class StatefulHoltSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulHolt.TickIn

  private val rows: Seq[TickIn] = (for {
    p <- Seq("A", "B", "C")
    i <- 0 until 150
  } yield {
    val hsh = (p.hashCode.abs + i * 31) % 89
    TickIn(p, tsUs(i.toLong * 900000L + hsh * 17), i.toLong,
      100.0 + 0.5 * i + (hsh % 11) * 0.83)
  }).sortBy(t => (EventTime.micros(t.event_time), t.product_id))

  test("final streaming upserts equal the batch Holt fold") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val latest = mutable.LinkedHashMap[String, (Long, Double, Double, Double)]()
    val ms = MemoryStream[TickIn]
    val q = StatefulHolt.forecast(ms.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulHolt.HoltOut], _: Long) =>
        df.collect().foreach { o =>
          latest(o.product_id) = (o.n_ticks, o.level, o.trend, o.forecast)
        }
      }.start()
    try {
      Seq(rows.slice(0, 120), rows.slice(120, 330), rows.slice(330, rows.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val batch = Indicators.holtPerKey(rows.toDF(), "product_id", "event_time",
        "sequence", "price")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap

    assert(latest.toMap == batch,
      "streaming Holt upserts must equal the batch fold bits")
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val latest = mutable.LinkedHashMap[String, (Long, Double, Double, Double)]()
    val ms = MemoryStream[TickIn]
    val q = StatefulHolt.forecast(ms.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulHolt.HoltOut], _: Long) =>
        df.collect().foreach { o =>
          latest(o.product_id) = (o.n_ticks, o.level, o.trend, o.forecast)
        }
      }.start()
    try {
      // replay an already-seen chunk, then strictly-older ticks
      Seq(rows.slice(0, 200), rows.slice(100, 200), rows.slice(200, rows.size), rows.take(5))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val batch = Indicators.holtPerKey(rows.toDF(), "product_id", "event_time",
        "sequence", "price")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap

    assert(latest.toMap == batch)
  }
}
