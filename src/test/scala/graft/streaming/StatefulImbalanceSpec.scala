package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Two chained stateful operators in one streaming query (sign-chain
  * classification → windowed aggregation) ≡ the batch tick-imbalance
  * window form. */
class StatefulImbalanceSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulImbalance.TickIn

  // 4 instruments × 300 ticks, 40 s apart (spans 4 hours), price walk
  // with flat stretches so the zero-change inherit path is exercised.
  private val rows: Seq[TickIn] = (for {
    p <- Seq("A", "B", "C", "D")
    i <- 0 until 300
  } yield {
    val h = (p.hashCode.abs + i * 41) % 97
    val step = (h % 5) - 2 // −2..2, includes 0 (flat)
    TickIn(p, ts(i.toLong * 40), i.toLong, 100.0 + step + (i % 7))
  }).sortBy(t => (t.event_time.getTime, t.product_id))

  private def canon(rs: Seq[Row]): Seq[String] =
    rs.map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted

  test("chained stateful classify + windowed agg equals the batch window chain") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val ms = MemoryStream[TickIn]
    val streamed = StatefulImbalance.hourlyImbalance(ms.toDS(), "10 minutes")
    val q = streamed.writeStream.format("memory").queryName("imb")
      .outputMode(OutputMode.Complete()).start()
    try {
      Seq(rows.slice(0, 400), rows.slice(400, 900), rows.slice(900, rows.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val streamOut = s.table("imb").collect().toSeq

      // batch twin: the same sign chain via window functions
      val w = Window.partitionBy(col("product_id"))
        .orderBy(col("event_time"), col("sequence"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val diff = col("price") - lag(col("price"), 1).over(w)
      val batchOut = rows.toDF()
        .withColumn("raw_sign", when(diff > 0, 1).when(diff < 0, -1))
        .withColumn("dir", last(col("raw_sign"), ignoreNulls = true).over(run))
        .filter(col("dir").isNotNull)
        .groupBy(window(col("event_time"), "1 hour"), col("product_id"))
        .agg(count(when(col("dir") === 1, 1)).as("n_buy"),
          count(when(col("dir") === -1, 1)).as("n_sell"),
          ((count(when(col("dir") === 1, 1)) - count(when(col("dir") === -1, 1))).cast("double") /
            count(lit(1)).cast("double")).as("imbalance"))
        .select(col("window.start").as("bucket"), col("product_id"),
          col("n_buy"), col("n_sell"), col("imbalance"))
        .collect().toSeq

      assert(streamOut.nonEmpty)
      assert(canon(streamOut) == canon(batchOut),
        "chained streaming stages must equal the batch sign-chain bits")
    } finally q.stop()
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val ms = MemoryStream[TickIn]
    val q = StatefulImbalance.hourlyImbalance(ms.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("imbreplay")
      .outputMode(OutputMode.Complete()).start()
    try {
      // replay an already-seen chunk, then strictly-older ticks
      Seq(rows.slice(0, 500), rows.slice(250, 500), rows.slice(500, rows.size), rows.take(8))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val streamOut = s.table("imbreplay").collect().toSeq

      val w = Window.partitionBy(col("product_id"))
        .orderBy(col("event_time"), col("sequence"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val diff = col("price") - lag(col("price"), 1).over(w)
      val batchOut = rows.toDF()
        .withColumn("raw_sign", when(diff > 0, 1).when(diff < 0, -1))
        .withColumn("dir", last(col("raw_sign"), ignoreNulls = true).over(run))
        .filter(col("dir").isNotNull)
        .groupBy(window(col("event_time"), "1 hour"), col("product_id"))
        .agg(count(when(col("dir") === 1, 1)).as("n_buy"),
          count(when(col("dir") === -1, 1)).as("n_sell"),
          ((count(when(col("dir") === 1, 1)) - count(when(col("dir") === -1, 1))).cast("double") /
            count(lit(1)).cast("double")).as("imbalance"))
        .select(col("window.start").as("bucket"), col("product_id"),
          col("n_buy"), col("n_sell"), col("imbalance"))
        .collect().toSeq

      assert(canon(streamOut) == canon(batchOut))
    } finally q.stop()
  }
}
