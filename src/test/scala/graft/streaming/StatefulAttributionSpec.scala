package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Streaming incremental last-touch attribution ≡ the batch running-last
  * window form (same shape as the `attribution` contract query). */
class StatefulAttributionSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulAttribution.EventIn

  private val HorizonUs = 3600000000L // 1 h

  // 30 users × mixed journeys with sub-millisecond micros; includes
  // same-micros (touch, purchase) pairs ordered by event_id and
  // purchases beyond the horizon.
  private val types = Vector("view", "click", "purchase", "signup", "error")
  private val rows: Seq[EventIn] = (for {
    u <- 1L to 30L
    i <- 0 until ((u % 5) + 8).toInt
  } yield {
    val h = (u * 37 + i * 23) % 101
    val gapS = if (h % 9 == 0) 7200L else (h % 50) * 60L
    EventIn(u, u * 1000 + i, tsUs((u * 100 + i * gapS) * 1000000L + h * 7),
      types((h % types.size).toInt))
  }).sortBy(e => (EventTime.micros(e.ts), e.user_id, e.event_id))

  test("streamed attributions equal the batch running-last window") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val got = mutable.ArrayBuffer[(Long, Long, Long, Long, String, Long)]()
    val ms = MemoryStream[EventIn]
    val q = StatefulAttribution.attribute(ms.toDS(), HorizonUs)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulAttribution.AttributionOut], _: Long) =>
        df.collect().foreach { o =>
          got += ((o.user_id, o.purchase_id, o.purchase_us, o.touch_id,
            o.touch_type, o.gap_us))
        }
      }.start()
    try {
      Seq(rows.slice(0, 80), rows.slice(80, 190), rows.slice(190, rows.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    // batch twin: IGNORE-NULLS running last over (ts, event_id)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("event_type").isin("click", "view")
    val batch = rows.toDF()
      .withColumn("touch_id", last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us", last(when(isTouch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", unix_micros(col("ts")) - col("touch_us"))
      .filter(col("touch_id").isNotNull && col("gap_us") <= lit(HorizonUs))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("touch_id"), col("touch_type"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
      .toSet

    assert(batch.nonEmpty, "fixture must produce attributed purchases")
    assert(got.size == got.toSet.size, "each purchase attributed exactly once")
    assert(got.toSet == batch)
  }

  test("restart from checkpoint: the last-touch state survives a process restart") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-attr-restart").toString
    val srcDir = base + "/src"
    val ckpt = base + "/ckpt"
    val schema = rows.toDF().schema

    val emitted = mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    // Each call is a fresh "process": new query instance, same checkpoint —
    // purchases in chunk 2 must still credit touches seen only by chunk 1.
    def runProcess(chunk: Seq[EventIn]): Unit = {
      chunk.toDF().coalesce(1).write.mode("append").parquet(srcDir)
      val q = StatefulAttribution.attribute(
          s.readStream.schema(schema).parquet(srcDir).as[EventIn], HorizonUs)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulAttribution.AttributionOut], _: Long) =>
          df.collect().foreach { o =>
            emitted += ((o.user_id, o.purchase_id, o.touch_id, o.gap_us))
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    val (chunk1, chunk2) = rows.splitAt(rows.size / 2)
    runProcess(chunk1)
    runProcess(chunk2)

    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("event_type").isin("click", "view")
    val batch = rows.toDF()
      .withColumn("touch_id", last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_us", last(when(isTouch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", unix_micros(col("ts")) - col("touch_us"))
      .filter(col("touch_id").isNotNull && col("gap_us") <= lit(HorizonUs))
      .select(col("user_id"), col("event_id"), col("touch_id"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    assert(emitted.toSet == batch,
      "attributions across a checkpointed restart must equal the batch window")
  }

  test("re-delivered and stale events are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val got = mutable.ArrayBuffer[(Long, Long, Long, Long, String, Long)]()
    val ms = MemoryStream[EventIn]
    val q = StatefulAttribution.attribute(ms.toDS(), HorizonUs)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StatefulAttribution.AttributionOut], _: Long) =>
        df.collect().foreach { o =>
          got += ((o.user_id, o.purchase_id, o.purchase_us, o.touch_id,
            o.touch_type, o.gap_us))
        }
      }.start()
    try {
      // replay an already-seen chunk, then strictly-older events
      Seq(rows.slice(0, 150), rows.slice(60, 150), rows.slice(150, rows.size), rows.take(10))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()

    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col("event_type").isin("click", "view")
    val batch = rows.toDF()
      .withColumn("touch_id", last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us", last(when(isTouch, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", unix_micros(col("ts")) - col("touch_us"))
      .filter(col("touch_id").isNotNull && col("gap_us") <= lit(HorizonUs))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("touch_id"), col("touch_type"), col("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
      .toSet

    assert(got.size == got.toSet.size, "each purchase attributed exactly once")
    assert(got.toSet == batch)
  }
}
