package graft.streaming

import graft.TestSpark
import graft.ops.Cusum
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Streaming incremental CUSUM ≡ batch prefix-min window form. */
class StatefulCusumSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulCusum.TickIn

  private val Scale = 4
  private val DriftK = 500L   // 0.05
  private val ThreshK = 20000L // 2.0

  // 6 products × 120 ticks: a drifting random-ish walk with one injected
  // level shift per product (so alarms actually fire), sub-ms micros.
  private val rows: Seq[TickIn] = (for {
    p <- 1 to 6
    i <- 0 until 120
  } yield {
    val h = (p * 61 + i * 17) % 97
    val shift = if (i >= 60 + p * 3) 3.5 else 0.0
    val price = 100.0 + (h % 11) * 0.31 - 1.5 + shift
    TickIn(s"P$p", tsUs((i.toLong * 900 + p) * 1000000L + h * 13), i.toLong, price)
  }).sortBy(t => (EventTime.micros(t.event_time), t.product_id))

  test("final upserted streaming summaries equal the batch CUSUM") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val latest = mutable.LinkedHashMap[String, (Long, Long, Double, Double)]()
    val ms = MemoryStream[TickIn]
    val q = StatefulCusum.cusum(ms.toDS(), Scale, DriftK, ThreshK)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulCusum.CusumOut], _: Long) =>
        df.collect().foreach { o =>
          latest(o.product_id) = (o.n_ticks, o.n_alarms, o.max_s, o.final_s)
        }
      }.start()
    try {
      Seq(rows.slice(0, 250), rows.slice(250, 500), rows.slice(500, rows.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val batch = Cusum.perKey(rows.toDF(), "product_id", "event_time", "sequence",
        "price", Scale, DriftK, ThreshK)
      .collect()
      .map(r => r.getAs[String]("product_id") ->
        ((r.getAs[Long]("n_ticks"), r.getAs[Long]("n_alarms"),
          r.getAs[Double]("max_s"), r.getAs[Double]("final_s"))))
      .toMap

    assert(batch.values.exists(_._2 > 0), "fixture must trigger alarms")
    assert(latest.toMap == batch,
      "streaming upserts must converge to the batch CUSUM bits")
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val latest = mutable.LinkedHashMap[String, (Long, Long, Double, Double)]()
    val ms = MemoryStream[TickIn]
    val q = StatefulCusum.cusum(ms.toDS(), Scale, DriftK, ThreshK)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulCusum.CusumOut], _: Long) =>
        df.collect().foreach { o =>
          latest(o.product_id) = (o.n_ticks, o.n_alarms, o.max_s, o.final_s)
        }
      }.start()
    try {
      // replay an already-seen chunk, then strictly-older ticks
      Seq(rows.slice(0, 300), rows.slice(150, 300), rows.slice(300, rows.size), rows.take(8))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val batch = Cusum.perKey(rows.toDF(), "product_id", "event_time", "sequence",
        "price", Scale, DriftK, ThreshK)
      .collect()
      .map(r => r.getAs[String]("product_id") ->
        ((r.getAs[Long]("n_ticks"), r.getAs[Long]("n_alarms"),
          r.getAs[Double]("max_s"), r.getAs[Double]("final_s"))))
      .toMap

    assert(latest.toMap == batch)
  }
}
