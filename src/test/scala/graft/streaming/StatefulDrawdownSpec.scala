package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** transformWithState streaming drawdown ≡ the batch running-max form
  * (same plan as the `drawdown` contract query). Runs on the RocksDB
  * state store, which transformWithState requires. */
class StatefulDrawdownSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulDrawdown.TickIn

  private val rows: Seq[TickIn] = (for {
    p <- 1 to 5
    i <- 0 until 90
  } yield {
    val h = (p * 53 + i * 29) % 89
    val price = 100.0 + (h % 17) * 0.73 - 4.0 + (if (i > 60) -2.5 else 0.0)
    TickIn(s"P$p", tsUs((i.toLong * 700 + p) * 1000000L + h * 11), i.toLong, price)
  }).sortBy(t => (EventTime.micros(t.event_time), t.product_id))

  test("transformWithState upserts converge to the batch drawdown bits") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val latest = mutable.LinkedHashMap[String, (Long, Double, Double, Double)]()
    try {
      val ms = MemoryStream[TickIn]
      val q = StatefulDrawdown.drawdown(ms.toDS())
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulDrawdown.DrawOut], _: Long) =>
          df.collect().foreach { o =>
            latest(o.product_id) = (o.n_ticks, o.peak_price, o.max_drawdown, o.max_dd_frac)
          }
        }.start()
      try {
        Seq(rows.slice(0, 150), rows.slice(150, 300), rows.slice(300, rows.size))
          .foreach { c => ms.addData(c); q.processAllAvailable() }
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    // batch twin: the same running-max formulation as the drawdown query
    val w = Window.partitionBy(col("product_id"))
      .orderBy(col("event_time"), col("sequence"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = floor(col("price") * lit(1e4) + lit(0.5)).cast("long")
    val batch = rows.toDF()
      .withColumn("runmax", max(k).over(w))
      .withColumn("dd", col("runmax") - k)
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("n"),
        (max(col("runmax")).cast("double") / 1e4).as("peak"),
        (max(col("dd")).cast("double") / 1e4).as("mdd"),
        max(col("dd").cast("double") / col("runmax").cast("double")).as("frac"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap

    assert(batch.values.exists(_._3 > 0), "fixture must draw down")
    assert(latest.toMap == batch,
      "transformWithState upserts must equal the batch drawdown bits")
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val latest = mutable.LinkedHashMap[String, (Long, Double, Double, Double)]()
    try {
      val ms = MemoryStream[TickIn]
      val q = StatefulDrawdown.drawdown(ms.toDS())
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulDrawdown.DrawOut], _: Long) =>
          df.collect().foreach { o =>
            latest(o.product_id) = (o.n_ticks, o.peak_price, o.max_drawdown, o.max_dd_frac)
          }
        }.start()
      try {
        // replay an already-seen chunk, then strictly-older ticks
        Seq(rows.slice(0, 250), rows.slice(100, 250), rows.slice(250, rows.size), rows.take(6))
          .foreach { c => ms.addData(c); q.processAllAvailable() }
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }

    val w = Window.partitionBy(col("product_id"))
      .orderBy(col("event_time"), col("sequence"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = floor(col("price") * lit(1e4) + lit(0.5)).cast("long")
    val batch = rows.toDF()
      .withColumn("runmax", max(k).over(w))
      .withColumn("dd", col("runmax") - k)
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("n"),
        (max(col("runmax")).cast("double") / 1e4).as("peak"),
        (max(col("dd")).cast("double") / 1e4).as("mdd"),
        max(col("dd").cast("double") / col("runmax").cast("double")).as("frac"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap

    assert(latest.toMap == batch)
  }
}
