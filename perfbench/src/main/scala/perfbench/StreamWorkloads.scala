package perfbench

import graft.config.StrategyConfig
import graft.strategy.SmaCrossStrategy
import graft.streaming.{Sinks, StreamingJob}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A `StreamingJob` running `SmaCrossStrategy` with a checkpoint dir and
  * five sinks. Every sink collects its frame to the driver, tagged with
  * the batch number, so the outputs can be checked against a batch run
  * afterwards. */
final class StreamRig(ctx: Ctx, name: String) {
  import StreamRig._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  val dir = s"${ctx.workDir}/$name"
  val checkpointDir = s"$dir/checkpoint"
  private var batchNo = 0L
  private val out = SinkNames.map(_ -> new Collected).toMap
  private def sink(sinkName: String)(df: DataFrame): Unit =
    tracer.span(s"Sinks.$sinkName", "sink")(out(sinkName).add(batchNo, df))

  val job = new StreamingJob(SmaCrossStrategy, Cfg,
    Sinks(sink("normalized"), sink("signals"), sink("positions"), sink("executions"),
      sink("metrics")),
    checkpointDir = Some(checkpointDir))

  /** One `feedBatch` call; returns its wall ms. */
  def feed(batch: DataFrame): Double = {
    val t0 = Jvm.nowMs
    tracer.span("StreamingJob.feedBatch", "op")(job.feedBatch(batch))
    batchNo += 1
    Jvm.nowMs - t0
  }

  /** Bytes of the committed tail state on disk. */
  def tailBytes: Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum else f.length
    size(new java.io.File(s"$checkpointDir/graft-tail"))
  }

  /** Union of every sink's batches (metrics last-write-wins on its key)
    * against batch `SmaCrossStrategy` over `fed`. Returns the failing
    * sinks. */
  def check(fed: DataFrame): Seq[String] = {
    val ref = SmaCrossStrategy(fed, Cfg)
    val want = Map("normalized" -> ref.normalized, "signals" -> ref.signals,
      "positions" -> ref.positions, "executions" -> ref.executions, "metrics" -> ref.metrics)
    SinkNames.filterNot { s =>
      val expected = want(s)
      val got = out(s).frame(spark, if (s == "metrics") MetricsKey else Nil)
      Print.of(got.select(expected.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)) ==
        Print.of(expected)
    }
  }

  /** The batch form over the same ticks, every output to the noop sink:
    * the `strategy` layer's floor for the stream workloads. */
  def strategyBatch(fed: DataFrame, events: Long): Map[String, Any] = {
    val t0 = Jvm.nowMs
    tracer.span("SmaCrossStrategy.batch", "reference") {
      val o = SmaCrossStrategy(fed, Cfg)
      Seq(o.normalized, o.signals, o.positions, o.executions, o.metrics)
        .foreach(_.write.format("noop").mode("overwrite").save())
    }
    val ms = Jvm.nowMs - t0
    Map("strategy.strategy_batch_ms" -> ms, "strategy.strategy_events_per_s" -> events / (ms / 1000.0))
  }
}

object StreamRig {
  val Cfg = StrategyConfig()
  val SinkNames = Seq("normalized", "signals", "positions", "executions", "metrics")
  val MetricsKey = Seq("strategy_run_id", "window_label", "metric_time")

  /** Generic per-layer figures of a StreamingJob run: self time is the
    * feedBatch wall minus the time inside its sink callbacks. */
  def layerSums(ctx: Ctx, ops: Seq[Span]): (Work, Double, Double, Double) = {
    val t = ctx.tracer
    val work = new Work
    var planning = 0.0; var sinks = 0.0; var self = 0.0
    ops.foreach { op =>
      work.add(t.workOf(op))
      planning += t.planningMsOf(op)
      val s = t.children(op.id).filter(_.kind == "sink").map(_.ms).sum
      sinks += s; self += op.ms - s
    }
    (work, planning, self, sinks)
  }

  def sinkDetail(ctx: Ctx, ops: Seq[Span]): Map[String, Any] = {
    val t = ctx.tracer
    val sinks = ops.flatMap(op => t.children(op.id)).filter(_.kind == "sink")
    SinkNames.flatMap { s =>
      val mine = sinks.filter(_.name == s"Sinks.$s")
      Seq(s"sink_ms.$s" -> (if (ops.isEmpty) 0.0 else mine.map(_.ms).sum / ops.size),
        s"sink_jobs.$s" -> (if (ops.isEmpty) 0.0 else mine.map(t.workOf(_).jobs).sum.toDouble / ops.size))
    }.toMap
  }
}

/** `live_feed`: an open loop. Ticks arrive in event-time order on a
  * seeded Poisson schedule at [[RatePerS]]; at each trigger every tick
  * that is due goes into one `feedBatch` call, the way a default-trigger
  * Structured Streaming query drains its backlog. A tick's latency runs
  * from its scheduled arrival to the return of the call that carries it. */
object LiveFeed {
  val RatePerS = 200.0
  val WarmupBatches = 3
  val WarmupBatchTicks = 400
  /** Ticks loaded to the driver: far more than a 60-second run hands over. */
  val PrefixTicks = 30000

  def run(ctx: Ctx): Outcome = {
    val f = ctx.fixture
    val rig = new StreamRig(ctx, "live_feed")
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    val w0 = Jvm.nowMs
    var next = 0
    for (_ <- 1 to WarmupBatches) {
      attempted += 1
      try rig.feed(Replay.frame(f, next, next + WarmupBatchTicks))
      catch { case e: Exception => failures += s"warmup batch: $e" }
      next += WarmupBatchTicks
    }
    val warmupS = (Jvm.nowMs - w0) / 1000.0
    val firstTimed = next

    // seeded Poisson arrivals, in ms after the timed phase starts
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val arrivals = mutable.ArrayBuffer[Double]()
    var t = 0.0
    def arrival(i: Int): Double = {
      while (arrivals.size <= i) {
        t += -math.log(1.0 - rnd.nextDouble()) * 1000.0 / RatePerS
        arrivals += t
      }
      arrivals(i)
    }

    val latencies = mutable.ArrayBuffer[Double]()
    val batchMs = mutable.ArrayBuffer[Double]()
    val batchSizes = mutable.ArrayBuffer[Int]()
    val batchEnds = mutable.ArrayBuffer[Double]()
    val lags = mutable.ArrayBuffer[Double]()
    val gc0 = Jvm.gcMs
    val start = Jvm.nowMs
    val horizon = ctx.seconds * 1000.0
    var handed = 0
    while (Jvm.nowMs - start < horizon) {
      val now = Jvm.nowMs - start
      if (arrival(handed) > now) Thread.sleep(math.ceil(arrival(handed) - now).toLong)
      else {
        var due = handed
        while (arrival(due) <= now) due += 1
        lags += (due - handed).toDouble
        attempted += 1
        try {
          val ms = rig.feed(Replay.frame(f, firstTimed + handed, firstTimed + due))
          val done = Jvm.nowMs - start
          (handed until due).foreach(i => latencies += done - arrival(i))
          batchMs += ms
          batchSizes += due - handed
          batchEnds += done
        } catch { case e: Exception => failures += s"batch at tick $handed: $e" }
        handed = due
      }
    }
    val timedMs = Jvm.nowMs - start
    val gcMs = Jvm.gcMs - gc0
    // ticks due at the end of the timed phase but never handed over
    val lagAtEnd = { var d = handed; while (arrival(d) <= timedMs) d += 1; d - handed }
    lags += lagAtEnd.toDouble

    val fed = Replay.frame(f, 0, firstTimed + handed)
    val bad = try rig.check(fed) catch { case e: Exception => Seq(s"check threw: $e") }
    failures ++= bad.map(s => s"sink $s differs from batch SmaCrossStrategy")
    val failed = if (bad.nonEmpty) attempted else failures.size

    ctx.tracer.drain()
    val ops = ctx.tracer.spans.filter(s => s.kind == "op").drop(WarmupBatches).toSeq
    val (work, planning, self, sinks) = StreamRig.layerSums(ctx, ops)
    Outcome(attempted, failed, failures.isEmpty, warmupS, timedMs, batchMs.size, ops,
      handed.toLong,
      // sustained rate: the ticks the batches after the first carried,
      // over the time from the first batch's return to the last one's.
      // Pinned to RatePerS while feedBatch keeps up: each trigger drains
      // the backlog, so per-batch cost moves the latency, not this rate
      if (batchEnds.size < 2) Double.NaN
      else batchSizes.tail.sum / ((batchEnds.last - batchEnds.head) / 1000.0),
      latencies.toSeq, gcMs, work, planning, self, sinks,
      named = Seq(
        ("tick_latency_p50_ms", Stats.median(latencies.toSeq), "ms"),
        ("tick_latency_p99_ms", Stats.quantile(latencies.toSeq, 0.99), "ms"),
        ("ticks", handed.toDouble, "count"),
        ("batches", batchMs.size.toDouble, "count"),
        ("batch_ticks_p50", Stats.median(batchSizes.map(_.toDouble).toSeq), "count"),
        ("feed_ms_p50", Stats.median(batchMs.toSeq), "ms")),
      detail = Map(
        "rate_per_s" -> RatePerS,
        "batch_ms" -> batchMs.toSeq,
        "io.lag_max_events" -> lags.max,
        "io.lag_p50_events" -> Stats.median(lags.toSeq),
        "io.lag_over_reference_alert" -> (lags.max > 1000),
        "streaming.StreamingJob.tail_bytes" -> rig.tailBytes) ++
        (if (ctx.tracer.enabled) StreamRig.sinkDetail(ctx, ops) ++
          rig.strategyBatch(fed, firstTimed + handed) else Map.empty),
      failures = failures.toSeq)
  }
}
