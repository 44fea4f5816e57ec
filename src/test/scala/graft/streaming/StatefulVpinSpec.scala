package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** StatefulVpin ≡ the batch vpin query: closed buckets plus the final
  * open-tail snapshot reproduce the batch window-chain bits, across
  * arbitrary micro-batch splits and a checkpoint restart. */
class StatefulVpinSpec extends AnyFunSuite {
  import TestSpark._
  import StatefulVpin.{Bucket, TickIn}

  private val BucketSize = 50L

  // 3 instruments × 400 ticks: a deterministic walk with up/down/flat
  // moves (flats exercise the carried-direction branch; the first tick of
  // each key is unclassifiable and must be skipped by both forms)
  private val rows: Seq[TickIn] = for {
    (p, salt) <- Seq(("A", 3), ("B", 11), ("C", 17))
    i <- 0 until 400
  } yield TickIn(p, ts(i * 7L + salt),
    i.toLong, 100.0 + ((i * 7919 + salt * 131) % 23 % 5) * 0.25)

  /** The batch query's exact formulation (BarQueries.vpin) on a local DF. */
  private def batchVpin(df: DataFrame): Map[(String, Long), (Long, Long, Long, Double)] = {
    val w = Window.partitionBy(col("product_id"))
      .orderBy(col("event_time"), col("sequence"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diff = col("price") - lag(col("price"), 1).over(w)
    df.withColumn("raw_sign", when(diff > 0, 1L).when(diff < 0, -1L))
      .withColumn("dir", last(col("raw_sign"), ignoreNulls = true).over(run))
      .filter(col("dir").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("bucket", expr(s"(rn - 1) div $BucketSize"))
      .groupBy(col("product_id"), col("bucket"))
      .agg(count(lit(1)).as("n_ticks"),
        count(when(col("dir") === 1L, 1)).as("n_buy"),
        count(when(col("dir") === -1L, 1)).as("n_sell"))
      .withColumn("vpin",
        abs(col("n_buy") - col("n_sell")).cast("double") /
          col("n_ticks").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
  }

  /** Closed rows win; otherwise the open snapshot with the most ticks is
    * the final tail (n_ticks grows monotonically within a bucket). */
  private def reconstruct(out: Seq[Bucket]): Map[(String, Long), (Long, Long, Long, Double)] = {
    val m = mutable.Map[(String, Long), Bucket]()
    for (b <- out.sortBy(b => (b.closed, b.n_ticks))) // closed sorts last, wins
      m((b.product_id, b.bucket)) = b
    m.view.mapValues(b => (b.n_ticks, b.n_buy, b.n_sell, b.vpin)).toMap
  }

  test("closed buckets + open tail equal the batch bits across splits") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val ms = MemoryStream[TickIn]
    val q = StatefulVpin.buckets(ms.toDS(), BucketSize)
      .writeStream.format("memory").queryName("vpinout").start()
    try {
      val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
      Seq(sorted.slice(0, 137), sorted.slice(137, 731), sorted.slice(731, sorted.size))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val got = reconstruct(s.table("vpinout").as[Bucket].collect().toSeq)
      val want = batchVpin(rows.toDF())
      assert(want.nonEmpty && want.keys.map(_._1).toSet == Set("A", "B", "C"))
      assert(want.exists(_._2._1 < BucketSize), "fixture must leave a partial tail bucket")
      assert(got == want, "streaming vpin must equal the batch window-chain bits")
    } finally q.stop()
  }

  test("restart from checkpoint resumes the sign chain and the open bucket") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-vpin").toString
    val ckpt = base + "/ckpt"
    val srcDir = base + "/src"
    val collected = mutable.ArrayBuffer[Bucket]()
    val schema = rows.toDF().schema

    def runChunk(chunk: Seq[TickIn]): Unit = {
      chunk.toDF().coalesce(1).write.mode("append").parquet(srcDir)
      val in = s.readStream.schema(schema).parquet(srcDir).as[TickIn]
      val q = StatefulVpin.buckets(in, BucketSize).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Bucket], _: Long) =>
          collected.synchronized { collected ++= df.collect() }; ()
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
    // split INSIDE a bucket so the open-bucket counts must survive the
    // restart (not just the price/direction chain)
    runChunk(sorted.take(493))
    runChunk(sorted.drop(493))

    val got = reconstruct(collected.toSeq)
    val want = batchVpin(rows.toDF())
    assert(got == want,
      "a checkpoint restart must resume mid-bucket with the batch bits")
  }

  test("re-delivered and stale ticks are no-ops under the high-water mark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val ms = MemoryStream[TickIn]
    val q = StatefulVpin.buckets(ms.toDS(), BucketSize)
      .writeStream.format("memory").queryName("vpinreplay").start()
    try {
      val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
      // replay an already-seen chunk, then strictly-older ticks
      Seq(sorted.slice(0, 600), sorted.slice(300, 600), sorted.slice(600, sorted.size),
          sorted.take(6))
        .foreach { c => ms.addData(c); q.processAllAvailable() }
      val got = reconstruct(s.table("vpinreplay").as[Bucket].collect().toSeq)
      assert(got == batchVpin(rows.toDF()))
    } finally q.stop()
  }
}
