package graft.streaming

import graft.TestSpark
import graft.config.StrategyConfig
import graft.strategy.SmaCrossStrategy
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The load-bearing streaming property: feeding the pipeline in
  * micro-batches yields EXACTLY the rows of one batch run (SURVEY §7
  * "hard parts" 1-3: rolling state across batch boundaries via the
  * carried tail).
  *
  * Every case runs on both sides of the job's size gate: as written
  * (the fixtures' batches take the keyed step on the driver) and again
  * with `graft.force.distributed` set, which sends every batch down the
  * Spark path (the same step in `flatMapGroups`).
  */
class StreamingJobSpec extends AnyFunSuite {
  import TestSpark._

  private def forced[A](body: => A): A = {
    sys.props("graft.force.distributed") = "1"
    try body finally sys.props -= "graft.force.distributed"
  }

  private def bothPaths(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [Spark path forced]")(forced(body))
  }

  private val cfg = StrategyConfig(
    smaFastWindow = 3, smaSlowWindow = 6, smaConfirmationWindow = 1)

  // 180 ticks per key, wavy so crossovers occur throughout; 2 instruments
  // to exercise per-key bounds.
  private def price(i: Int): Double = 100.0 + 3.0 * math.sin(i / 7.0) + (i % 5) * 0.2
  private val rows: Seq[Tick] = (for {
    p <- Seq("A", "B")
    i <- 0 until 180
  } yield Tick(p, ts(i * 10L), i.toLong, price(i) + (if (p == "A") 0 else 5),
    price(i) * 0.999, price(i) * 1.001)).toVector

  bothPaths("micro-batched streaming equals one-shot batch for every sink") {
    val s = spark
    import s.implicits._

    val sigBuf = mutable.ArrayBuffer[Row]()
    val posBuf = mutable.ArrayBuffer[Row]()
    val exeBuf = mutable.ArrayBuffer[Row]()
    val metBuf = mutable.LinkedHashMap[Any, Row]() // upsert on metric_time
    val sinks = Sinks(
      signals = df => sigBuf ++= df.collect(),
      positions = df => posBuf ++= df.collect(),
      executions = df => exeBuf ++= df.collect(),
      metrics = df => df.collect().foreach(r => metBuf(r.getAs[Any]("metric_time")) = r))

    val job = new StreamingJob(SmaCrossStrategy, cfg, sinks)
    implicit val sq = s.sqlContext
    val ms = MemoryStream[Tick]
    val q = job.start(ms.toDF())
    try {
      // three uneven chunks, interleaving both keys (ordered by time)
      val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
      Seq(sorted.slice(0, 130), sorted.slice(130, 220), sorted.slice(220, 360))
        .foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()

    val batchOut = SmaCrossStrategy(ticks(rows.map(t =>
      (t.product_id, (t.event_time.getTime - ts(0).getTime) / 1000, t.sequence,
        t.price: Double, Option(t.best_bid).map(Double.unbox),
        Option(t.best_ask).map(Double.unbox)))), cfg)

    def key(r: Row): (String, Long) =
      (r.getAs[String](r.schema.fieldNames.find(_.contains("product_id"))
        .getOrElse("instrument_id")), r.getAs[Long]("sequence"))
    def canon(rs: Seq[Row]): Seq[String] =
      rs.map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted

    assert(canon(sigBuf.toSeq) == canon(batchOut.signals.collect().toSeq),
      "signals must match batch run")
    assert(canon(posBuf.toSeq) == canon(batchOut.positions.collect().toSeq),
      "positions must match batch run")
    assert(canon(exeBuf.toSeq) == canon(batchOut.executions.collect().toSeq),
      "executions must match batch run")
    assert(canon(metBuf.values.toSeq) == canon(batchOut.metrics.collect().toSeq),
      "upserted metrics must converge to batch metrics")
  }

  bothPaths("restart from checkpoint: a fresh job resumes from persisted tail state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
    val (chunk1, chunk2) = sorted.splitAt(200)
    def mkSinks(sig: mutable.ArrayBuffer[Row]) = Sinks(signals = df => sig ++= df.collect())

    val sig1 = mutable.ArrayBuffer[Row]()
    val job1 = new StreamingJob(SmaCrossStrategy, cfg, mkSinks(sig1),
      checkpointDir = Some(dir))
    job1.processBatch(ticksOf(chunk1), 0L)

    // simulate process restart: brand-new job instance, same checkpoint dir.
    // The resumed batchId is NOT 0 — a real checkpoint restart re-enters
    // foreachBatch at the last uncommitted id, and the tail must load anyway.
    val sig2 = mutable.ArrayBuffer[Row]()
    val job2 = new StreamingJob(SmaCrossStrategy, cfg, mkSinks(sig2),
      checkpointDir = Some(dir))
    job2.processBatch(ticksOf(chunk2), 7L)

    val batchSignals = SmaCrossStrategy(ticksOf(rows), cfg).signals.collect().toSeq
    def canon(rs: Seq[Row]): Seq[String] =
      rs.map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted
    assert(canon(sig1.toSeq ++ sig2.toSeq) == canon(batchSignals),
      "signals across a restart must equal the batch run")
  }

  private def ticksOf(ts0: Seq[Tick]) = ticks(ts0.map(t =>
    (t.product_id, (t.event_time.getTime - ts(0).getTime) / 1000, t.sequence,
      t.price: Double, Option(t.best_bid).map(Double.unbox),
      Option(t.best_ask).map(Double.unbox))))

  private def canonRows(rs: Iterable[Row]): Seq[String] =
    rs.map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  bothPaths("restart through start()+checkpointLocation: tail loads at batchId > 0") {
    val s = spark
    val base = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val ckpt = base + "/ckpt"
    val srcDir = base + "/src"
    val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
    val (chunk1, chunk2) = sorted.splitAt(200)
    val schema = ticksOf(chunk1).schema

    // Each call is a fresh "process": new StreamingJob instance, same
    // checkpoint. The file source resumes from the committed offsets, so the
    // second run's first foreachBatch call arrives with batchId = 1.
    def runProcess(chunk: Seq[Tick], sig: mutable.ArrayBuffer[Row]): Unit = {
      ticksOf(chunk).coalesce(1).write.mode("append").parquet(srcDir)
      val job = new StreamingJob(SmaCrossStrategy, cfg,
        Sinks(signals = df => sig ++= df.collect()), checkpointDir = Some(ckpt))
      val q = job.start(s.readStream.schema(schema).parquet(srcDir))
      try q.processAllAvailable() finally q.stop()
    }
    val sig1 = mutable.ArrayBuffer[Row]()
    val sig2 = mutable.ArrayBuffer[Row]()
    runProcess(chunk1, sig1)
    runProcess(chunk2, sig2)

    val batchSignals = SmaCrossStrategy(ticksOf(rows), cfg).signals.collect().toSeq
    assert(canonRows(sig1.toSeq ++ sig2.toSeq) == canonRows(batchSignals),
      "signals across a real checkpointed restart must equal the batch run")
  }

  bothPaths("a replayed micro-batch (tail persisted, commit lost) upserts the batch values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))
    val (c1, rest) = sorted.splitAt(150)
    val (c2, c3) = rest.splitAt(120)
    val sig = mutable.LinkedHashMap[(String, Long), Row]() // upsert on PK
    def upsert(df: DataFrame): Unit = df.collect().foreach(r =>
      sig((r.getAs[String]("instrument_id"), r.getAs[Long]("sequence"))) = r)

    val job1 = new StreamingJob(SmaCrossStrategy, cfg,
      Sinks(signals = upsert), checkpointDir = Some(dir))
    job1.processBatch(ticksOf(c1), 0L)
    job1.processBatch(ticksOf(c2), 1L) // tail (incl. c2) persisted...
    // ...but the micro-batch commit is lost: the restarted process replays
    // batch 1, whose rows are now ALSO in the loaded tail.
    val job2 = new StreamingJob(SmaCrossStrategy, cfg,
      Sinks(signals = upsert), checkpointDir = Some(dir))
    job2.processBatch(ticksOf(c2), 1L) // replay
    job2.processBatch(ticksOf(c3), 2L)

    val batchSignals = SmaCrossStrategy(ticksOf(rows), cfg).signals.collect().toSeq
    assert(canonRows(sig.values) == canonRows(batchSignals),
      "upserted signals after a replayed batch must equal the batch run")
  }

  bothPaths("a late row within the carried tail is reordered into its correct place") {
    val sig = mutable.ArrayBuffer[Row]()
    val job = new StreamingJob(SmaCrossStrategy, cfg,
      Sinks(signals = df => sig ++= df.collect()))
    val a = (0 until 40).map(i =>
      ("A", i * 10L, i.toLong, 100.0 + (i % 9), Option(99.0), Option(101.0)))
    // batch 1: everything except row 35; batch 2: rows 40.. plus LATE row 35
    job.processBatch(ticks(a.filterNot(_._3 == 35L)), 0L)
    val later = (40 until 60).map(i =>
      ("A", i * 10L, i.toLong, 100.0 + (i % 9), Option(99.0), Option(101.0)))
    job.processBatch(ticks(later ++ a.filter(_._3 == 35L)), 1L)

    val batchSignals = SmaCrossStrategy(ticks(a ++ later), cfg).signals.collect()
    def canon(rs: Seq[Row]): Seq[String] =
      rs.map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted
    // every signal at/after the late row's position is recomputed with it
    // in place; earlier ones were already emitted from batch 1 — so the
    // union of emissions must contain the batch result for rows >= 35
    val emitted = canon(sig.toSeq)
    val expectedLateOn = canon(batchSignals.filter(_.getAs[Long]("sequence") >= 35L).toSeq)
    expectedLateOn.foreach(e => assert(emitted.contains(e),
      s"late-row-corrected signal missing: $e"))
  }

  private val sorted = rows.sortBy(t => (t.event_time.getTime, t.product_id))

  /** Committed tail versions in `<dir>/graft-tail`, oldest first. */
  private def tailVersions(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir, "graft-tail").listFiles()).toSeq.flatten
      .filter(_.getName.matches("v\\d+")).sortBy(_.getName.drop(1).toLong)

  /** Commit a tail for the first 200 ticks, let `damage` rewrite its one
    * version's bytes, and expect the restarted job's next batch to throw. */
  private def damagedTailFails(damage: Array[Byte] => Array[Byte]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    val (c1, c2) = sorted.splitAt(200)
    new StreamingJob(SmaCrossStrategy, cfg, Sinks(), checkpointDir = Some(dir))
      .processBatch(ticksOf(c1), 0L)
    val Seq(v0) = tailVersions(dir)
    new java.io.File(dir, "graft-tail").listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(_.delete())
    java.nio.file.Files.write(v0.toPath, damage(java.nio.file.Files.readAllBytes(v0.toPath)))

    val restarted = new StreamingJob(SmaCrossStrategy, cfg, Sinks(), checkpointDir = Some(dir))
    intercept[java.io.IOException](restarted.processBatch(ticksOf(c2), 1L))
  }

  bothPaths("an unreadable committed tail fails the next batch instead of starting empty") {
    damagedTailFails(_ => "not a tail".getBytes)
  }

  bothPaths("a truncated committed tail version fails the next batch") {
    // the trailer repeats the row count: one row fewer than the header's,
    // then a file cut short inside its last row
    damagedTailFails { b =>
      val n = java.nio.ByteBuffer.wrap(b.takeRight(4)).getInt
      b.dropRight(4) ++ java.nio.ByteBuffer.allocate(4).putInt(n - 1).array()
    }
    damagedTailFails(_.dropRight(10))
  }

  /** Batch `SmaCrossStrategy` over `fed`, each output's rows canonical. */
  private def batchOf(fed: Seq[Tick]): Seq[Seq[String]] = {
    val o = SmaCrossStrategy(ticksOf(fed), cfg)
    Seq(o.normalized, o.signals, o.positions, o.executions, o.metrics).map(df =>
      canonRows(df.collect()))
  }

  /** Batch over the first 220 ticks: computed once for both gate sides. */
  private lazy val first220 = batchOf(sorted.take(220))

  /** Every sink's emissions: the row sinks as sets (a replayed batch
    * re-emits identical rows), metrics last-write-wins on metric_time. */
  private final class Emitted {
    private val bufs = Seq.fill(4)(mutable.LinkedHashSet[String]())
    private val metrics = mutable.LinkedHashMap[Any, Row]()
    private def add(i: Int)(df: DataFrame): Unit = bufs(i) ++= canonRows(df.collect())
    val sinks = Sinks(add(0), add(1), add(2), add(3),
      df => df.collect().foreach(r => metrics(r.getAs[Any]("metric_time")) = r))
    /** Against batch `SmaCrossStrategy` over the first 220 ticks. */
    def assertFirst220(): Unit = assertBatch(first220)
    /** Against [[batchOf]]'s outputs. */
    def assertBatch(want: Seq[Seq[String]]): Unit = {
      bufs.zip(want).zip(Seq("normalized", "signals", "positions", "executions")).foreach {
        case ((got, want), name) => assert(got.toSeq.sorted == want.distinct, s"$name must match batch run")
      }
      assert(canonRows(metrics.values) == want(4), "upserted metrics must converge to batch metrics")
    }
  }

  /** A checkpoint dir on the `flakytail:` filesystem. */
  private def flakyDir(): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flakytail.impl", classOf[FlakyTailFs].getName)
    conf.set("fs.flakytail.impl.disable.cache", "true")
    "flakytail:" + java.nio.file.Files.createTempDirectory("graft-flaky").toString
  }

  bothPaths("a failed tail commit fails the batch, and the restart replays it") {
    val dir = flakyDir()
    val (c1, c2) = sorted.take(220).splitAt(130)
    val out = new Emitted
    val job1 = new StreamingJob(SmaCrossStrategy, cfg, out.sinks, checkpointDir = Some(dir))
    job1.processBatch(ticksOf(c1), 0L)
    FlakyTailFs.failRenameAt.set(1)
    try intercept[java.io.IOException](job1.processBatch(ticksOf(c2), 1L))
    finally FlakyTailFs.failRenameAt.set(0)
    assert(tailVersions(dir.stripPrefix("flakytail:")).map(_.getName) == Seq("v0"),
      "a failed commit must leave the previous version")

    val job2 = new StreamingJob(SmaCrossStrategy, cfg, out.sinks, checkpointDir = Some(dir))
    job2.processBatch(ticksOf(c2), 1L) // the replay
    out.assertFirst220()
  }

  bothPaths("a stop after the tail rename, before the cleanup, restarts from the newest version") {
    val dir = flakyDir()
    val (c1, rest) = sorted.splitAt(130)
    val (c2, c3) = rest.splitAt(90)
    val sig = mutable.ArrayBuffer[Row]()
    val sinks = Sinks(signals = df => sig ++= df.collect())
    val job1 = new StreamingJob(SmaCrossStrategy, cfg, sinks, checkpointDir = Some(dir))
    job1.processBatch(ticksOf(c1), 0L)
    FlakyTailFs.stopAtDeleteAt.set(1)
    try intercept[java.io.IOException](job1.processBatch(ticksOf(c2), 1L))
    finally FlakyTailFs.stopAtDeleteAt.set(0)
    val local = dir.stripPrefix("flakytail:")
    assert(tailVersions(local).map(_.getName) == Seq("v0", "v1"))

    // c2 is not fed again: only v1 holds it, so loading v0 would break c3
    val job2 = new StreamingJob(SmaCrossStrategy, cfg, sinks, checkpointDir = Some(dir))
    job2.processBatch(ticksOf(c3), 2L)
    assert(tailVersions(local).map(_.getName) == Seq("v2"))
    assert(canonRows(sig) == canonRows(SmaCrossStrategy(ticksOf(rows), cfg).signals.collect()),
      "signals across the stop must equal the batch run")
  }

  bothPaths("a parquet tail written before versioning is loaded once, then replaced by v0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val (c1, c2) = sorted.splitAt(200)
    ticksOf(c1).write.parquet(s"$dir/graft-tail")
    val sig = mutable.ArrayBuffer[Row]()
    new StreamingJob(SmaCrossStrategy, cfg, Sinks(signals = df => sig ++= df.collect()),
      checkpointDir = Some(dir)).processBatch(ticksOf(c2), 0L)

    val fed = c2.map(t => (t.product_id, t.sequence)).toSet
    val want = SmaCrossStrategy(ticksOf(rows), cfg).signals.collect()
      .filter(r => fed((r.getAs[String]("instrument_id"), r.getAs[Long]("sequence"))))
    assert(canonRows(sig) == canonRows(want), "signals after the parquet tail must equal batch")
    assert(new java.io.File(dir, "graft-tail").list().filterNot(_.startsWith(".")).toSeq ==
      Seq("v0"), "the first commit must replace the parquet tail")
  }

  bothPaths("a tick with no price and no quotes, or no sequence, fails the batch before any sink") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-unfoldable").toString
    val seen = mutable.ArrayBuffer[Row]()
    val collect = (df: DataFrame) => { seen ++= df.collect(); () }
    val job = new StreamingJob(SmaCrossStrategy, cfg,
      Sinks(collect, collect, collect, collect, collect), checkpointDir = Some(dir))
    def withLast(tick: Tick) = (rows.take(20) :+ tick).toDF()
    val unpriced = withLast(Tick("A", ts(500), 999L, null, null, 101.0))
    val unsequenced = withLast(Tick("A", ts(500), 999L, 100.0, 99.0, 101.0)).withColumn(
      "sequence", when(col("sequence") === 999L, lit(null)).otherwise(col("sequence")))
    Seq(unpriced, unsequenced).foreach { batch =>
      // not a LocalRelation, so the Spark path's one-row fetch does not
      // reach the bad tick and the check must fire inside the batch
      val e = intercept[Exception](job.processBatch(batch.repartition(1), 0L))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("no price and no quotes")))
    }
    assert(seen.isEmpty, "no sink may see a failed batch")
    assert(!new java.io.File(dir, "graft-tail").exists, "a failed batch must not commit a tail")
  }

  test("batches crossing the size gate mid-stream (small, large, small) equal batch") {
    // three instruments, enough ticks that the middle batch exceeds the gate
    val perKey = (StreamingJob.DriverBatchRows.toInt + 900) / 3
    val many = (for { p <- Seq("A", "B", "C"); i <- 0 until perKey } yield
      (p, i * 10L, i.toLong, price(i) + (if (p == "A") 0 else 5),
        Option(price(i) * 0.999), Option(price(i) * 1.001)))
      .sortBy(r => (r._2, r._1))
    val (small1, rest) = many.splitAt(300)
    val (large, small2) = rest.splitAt(StreamingJob.DriverBatchRows.toInt + 100)
    assert(small2.nonEmpty && small2.size < StreamingJob.DriverBatchRows)

    val bufs = Seq.fill(4)(mutable.ArrayBuffer[Row]())
    val metBuf = mutable.LinkedHashMap[Any, Row]()
    val job = new StreamingJob(SmaCrossStrategy, cfg, Sinks(
      signals = df => bufs(0) ++= df.collect(),
      positions = df => bufs(1) ++= df.collect(),
      executions = df => bufs(2) ++= df.collect(),
      normalized = df => bufs(3) ++= df.collect(),
      metrics = df => df.collect().foreach(r => metBuf(r.getAs[Any]("metric_time")) = r)))
    Seq(small1, large, small2).zipWithIndex.foreach { case (b, i) =>
      job.processBatch(ticks(b), i.toLong) }

    val batchOut = SmaCrossStrategy(ticks(many), cfg)
    Seq(batchOut.signals, batchOut.positions, batchOut.executions, batchOut.normalized)
      .zip(bufs).zip(Seq("signals", "positions", "executions", "normalized"))
      .foreach { case ((want, got), name) =>
        assert(canonRows(got) == canonRows(want.collect()), s"$name must match batch run") }
    assert(canonRows(metBuf.values) == canonRows(batchOut.metrics.collect()),
      "upserted metrics must converge to batch metrics")
  }

  test("small driver-path batches start no Spark job") {
    val sc = spark.sparkContext
    val out = new Emitted
    val job = new StreamingJob(SmaCrossStrategy, cfg, out.sinks, checkpointDir =
      Some(java.nio.file.Files.createTempDirectory("graft-zero-job").toString))
    val batches = sorted.take(220).grouped(55).map(ticksOf).toSeq
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      batches.foreach(job.feedBatch)
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(started.get == 0, s"${started.get} Spark jobs started in ${batches.size} batches")
    out.assertFirst220()
  }

  test("every frame a driver-path sink receives is a bare LocalRelation") {
    val plans = mutable.ArrayBuffer[LogicalPlan]()
    val see = (df: DataFrame) => { plans += df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed; () }
    val job = new StreamingJob(SmaCrossStrategy, cfg, Sinks(see, see, see, see, see))
    sorted.take(220).grouped(55).zipWithIndex.foreach { case (b, i) =>
      job.processBatch(ticksOf(b), i.toLong) }
    assert(plans.size == 20)
    plans.foreach(p => assert(p.isInstanceOf[LocalRelation], s"a sink frame is not a bare leaf:\n$p"))
  }

  bothPaths("an instrument with no ticks in a batch still gives its open window to metrics") {
    // 10 s ticks, 5-minute windows starting at offsets 100, 400, 700 s.
    // Batch 2 holds A only and crosses 700 s, so it is the last batch to
    // emit [400, 700): B's held rows of that window must be in it.
    val (c1, rest) = sorted.partition(_.sequence < 60)
    val (c2, c3) = rest.filter(t => t.product_id == "A" || t.sequence >= 80)
      .partition(_.sequence < 80)
    assert(c2.nonEmpty && c2.forall(_.product_id == "A"))
    val out = new Emitted
    val job = new StreamingJob(SmaCrossStrategy, cfg, out.sinks)
    Seq(c1, c2, c3).zipWithIndex.foreach { case (c, i) => job.processBatch(ticksOf(c), i.toLong) }
    out.assertBatch(batchOf(c1 ++ c2 ++ c3))
  }

  test("a sink that throws on the Spark path leaves nothing cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var failing = false
    val job = new StreamingJob(SmaCrossStrategy, cfg, Sinks(positions = { df =>
      df.collect()
      if (failing) throw new IllegalStateException("positions sink down")
    }))
    val (c1, c2) = sorted.splitAt(130)
    forced {
      job.processBatch(ticksOf(c1), 0L)
      failing = true
      intercept[IllegalStateException](job.processBatch(ticksOf(c2), 1L))
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "a failed batch must not stay cached")
  }

  test("any strategy but sma_cross is refused at construction") {
    val other = new graft.strategy.Strategy {
      val name = "other"
      def apply(raw: DataFrame, c: StrategyConfig) = SmaCrossStrategy(raw, c)
    }
    val e = intercept[IllegalArgumentException](new StreamingJob(other, cfg, Sinks()))
    assert(e.getMessage.contains("sma_cross"))
  }

  test("tail size covers every rolling operator's lookback") {
    val job = new StreamingJob(SmaCrossStrategy, StrategyConfig(), Sinks())
    // slow=60 < volatility lookback 60; + confirmation 3 + 1 for lag
    assert(job.tailRows == 64)
  }
}
