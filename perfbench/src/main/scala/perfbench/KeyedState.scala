package perfbench

import graft.io.PacedReplay
import graft.ops.{Normalize, Positions, SmaCross}
import graft.streaming.{StatefulDrawdown, StatefulExecutions, StatefulSignals}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `keyed_state`: a closed loop. `PacedReplay.run` publishes the fixture
  * as fast as it is taken, in event-time slices of a tenth of its span
  * (about 10k ticks); each publish hands the slice to three
  * `MemoryStream`s feeding the keyed-state twins, each a streaming query
  * with its own checkpoint, and waits for all three:
  * `StatefulSignals.signals` and `StatefulExecutions.executions`
  * (`flatMapGroupsWithState`) and `StatefulDrawdown.drawdown`
  * (`transformWithState` on RocksDB). One operation is one publish.
  * History is replayed, shifted, while the timed phase lasts. */
object KeyedState {
  val SlicesPerPass = 10
  val WarmupSlices = 3
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** Thrown from a publish callback to end a replay when time is up. */
  private object TimeUp extends RuntimeException with scala.util.control.NoStackTrace

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val f = ctx.fixture
    val cfg = StreamRig.Cfg
    val dir = s"${ctx.workDir}/keyed_state"
    val failures = mutable.ArrayBuffer[String]()
    val sliceMs = f.spanUs / 1000 / SlicesPerPass
    val w0 = Jvm.nowMs

    // StatefulSignals consumes normalized mids: computed once, by the
    // program's Normalize, per (product, sequence within a pass)
    val mid: Map[(String, Long), Double] = Normalize(f.ticks)
      .select($"product_id", $"sequence", $"mid_price").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val sigIn = MemoryStream[StatefulSignals.TickIn]
    val exeIn = MemoryStream[StatefulExecutions.TickIn]
    val ddIn = MemoryStream[StatefulDrawdown.TickIn]
    val out = Seq("signals", "executions", "drawdown").map(_ -> new Collected).toMap
    def sink[T](q: Dataset[T], name: String): StreamingQuery = q.toDF().writeStream
      .queryName(s"keyed_state_$name")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$dir/checkpoint/$name")
      .foreachBatch((df: DataFrame, id: Long) => out(name).add(id, df))
      .start()
    // a query's state store provider is fixed from the session conf it
    // starts with: drawdown on RocksDB, the other two on the default
    // every progress update is kept, so the warm-up's batches can be told
    // from the timed ones after the run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val prevProvider = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDb)
    val dd = sink(StatefulDrawdown.drawdown(ddIn.toDS()), "drawdown")
    prevProvider.fold(spark.conf.unset(ProviderConf))(spark.conf.set(ProviderConf, _))
    val queries = Seq(
      "signals" -> sink(StatefulSignals.signals(sigIn.toDS(), cfg), "signals"),
      "executions" -> sink(StatefulExecutions.executions(exeIn.toDS(), cfg), "executions"),
      "drawdown" -> dd)

    val fed = mutable.ArrayBuffer[Row]()
    var attempted = 0
    var deadline = Double.PositiveInfinity
    val batchMs = mutable.ArrayBuffer[Double]()
    var published = 0
    /** One operation: the published slice into all three twins. */
    def publish(slice: DataFrame): Unit = {
      if (Jvm.nowMs >= deadline) throw TimeUp
      attempted += 1
      published += 1
      val t0 = Jvm.nowMs
      try {
        ctx.tracer.span("keyed_state.publish", "op") {
          val rows = slice.collect().toSeq
          sigIn.addData(rows.map(r => StatefulSignals.TickIn(r.getString(0), r.getTimestamp(1),
            r.getLong(2), mid((r.getString(0), r.getLong(2) % Replay.SeqShift)))))
          exeIn.addData(rows.map(r => StatefulExecutions.TickIn(r.getString(0), r.getTimestamp(1),
            r.getLong(2), r.getDouble(3),
            if (r.isNullAt(4)) null else Double.box(r.getDouble(4)),
            if (r.isNullAt(5)) null else Double.box(r.getDouble(5)))))
          ddIn.addData(rows.map(r => StatefulDrawdown.TickIn(r.getString(0), r.getTimestamp(1),
            r.getLong(2), r.getDouble(3))))
          queries.foreach(_._2.processAllAvailable())
          fed ++= rows
        }
        batchMs += Jvm.nowMs - t0
      } catch { case e: Exception => failures += s"slice at tick ${fed.size}: $e" }
    }
    def replay(frame: DataFrame): Unit =
      try ctx.tracer.span("PacedReplay.run", "replay") {
        PacedReplay.run(frame, "event_time", publish,
          PacedReplay.Config(speedupFactor = 1e12, sliceMs = sliceMs))
      } catch { case TimeUp => () }

    // warm-up: the first slices of the first pass
    val firstMs = f.ticks.agg(min(col("event_time"))).head().getTimestamp(0).getTime
    val cut = lit(new java.sql.Timestamp(firstMs + WarmupSlices * sliceMs))
    replay(f.ticks.filter(col("event_time") < cut))
    val warmupS = (Jvm.nowMs - w0) / 1000.0
    val warmBatches = batchMs.size
    val warmPublished = published
    val warmSpans = ctx.tracer.spans.size
    val firstTimed = fed.size

    val gc0 = Jvm.gcMs
    val start = Jvm.nowMs
    deadline = start + ctx.seconds * 1000.0
    var pass = 0
    while (Jvm.nowMs < deadline) {
      replay(if (pass == 0) f.ticks.filter(col("event_time") >= cut) else Replay.pass(f, pass))
      pass += 1
    }
    val timedMs = Jvm.nowMs - start
    val gcMs = Jvm.gcMs - gc0
    // a twin's warm-up batches are the data batches that carried the
    // first `firstTimed` rows; every later batch is timed
    val split = queries.map { case (n, q) =>
      val data = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
      val (warm, timed) = data.zip(data.scanLeft(0L)(_ + _.numInputRows).tail)
        .partition(_._2 <= firstTimed)
      (n, warm.lastOption.fold(-1L)(_._1.batchId), timed.map(_._1))
    }
    val progress = split.map(t => t._1 -> t._3)
    val warmBatchId = split.map(t => t._1 -> t._2).toMap
    val rocks = dd.lastProgress.stateOperators.exists(_.customMetrics.keySet.asScala
      .exists(_.toLowerCase.startsWith("rocksdb")))
    queries.foreach(_._2.stop())

    val bad = try check(ctx, out, spark.createDataFrame(fed.asJava, f.ticks.schema).cache())
      catch { case e: Exception => Seq(s"check threw: $e") }
    failures ++= bad.map(s => s"$s differs from its batch form")
    val failed = if (bad.nonEmpty) attempted else failures.size

    ctx.tracer.drain()
    val timedSpans = ctx.tracer.spans.drop(warmSpans).toSeq
    val ops = timedSpans.filter(_.kind == "op")
    val work = new Work
    queries.foreach { case (n, q) => work.add(ctx.tracer.workOfQuery(q.id.toString, warmBatchId(n))) }
    ops.foreach(op => work.add(ctx.tracer.workOf(op)))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)
    val all = progress.flatMap(_._2)
    // the twins run concurrently: per operation, the slowest twin's
    // micro-batch is the critical path, and its addBatch the sink write
    val aligned = progress.map(_._2.size).min
    val slowest = (0 until aligned).map(i => progress.map(_._2(i)).maxBy(dur(_, "triggerExecution")))
    val critical = slowest.map(dur(_, "triggerExecution")).sum
    val addBatch = slowest.map(dur(_, "addBatch")).sum
    val perTwin: Map[String, Any] = progress.flatMap { case (n, ps) =>
      val k = ps.size.max(1).toDouble
      val last = ps.lastOption
      Seq(
        s"streaming.$n.add_batch_ms" -> ps.map(dur(_, "addBatch")).sum / k,
        s"streaming.$n.query_planning_ms" -> ps.map(dur(_, "queryPlanning")).sum / k,
        s"streaming.$n.wal_commit_ms" ->
          ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / k,
        s"streaming.$n.state_rows_total" -> last.fold(0L)(_.stateOperators.map(_.numRowsTotal).sum),
        s"streaming.$n.state_memory_bytes" ->
          last.fold(0L)(_.stateOperators.map(_.memoryUsedBytes).sum),
        s"streaming.$n.state_commit_ms" -> ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum / k,
        s"streaming.$n.rows_dropped_by_watermark" ->
          ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum,
        s"streaming.$n.batches" -> ps.size)
    }.toMap
    val replaySpans = timedSpans.filter(_.kind == "replay")
    val replaySelf = replaySpans.map(r => r.ms - ctx.tracer.children(r.id).map(_.ms).sum).sum
    val timedBatches = batchMs.drop(warmBatches).toSeq
    val events = (fed.size - firstTimed).toLong
    Outcome(attempted, failed, failures.isEmpty, warmupS, timedMs, timedBatches.size, ops, events,
      events / (timedMs / 1000.0),
      timedBatches, gcMs, work, all.map(dur(_, "queryPlanning")).sum,
      ops.map(_.ms).sum - critical, addBatch,
      named = Seq(
        ("events_per_s", events / (timedMs / 1000.0), "1/s"),
        ("batch_ms_p50", Stats.median(timedBatches), "ms"),
        ("batches", timedBatches.size.toDouble, "count")),
      detail = Map(
        "slice_ms" -> sliceMs,
        "batch_ms" -> timedBatches,
        "io.PacedReplay.replay_slices" -> (published - warmPublished),
        "streaming.drawdown.rocksdb_state_store" -> rocks) ++ perTwin ++
        (if (ctx.tracer.enabled) Map("io.PacedReplay.replay_self_ms" -> replaySelf) else Map.empty),
      failures = failures.toSeq)
  }

  /** Each twin's appended output against the batch form its spec uses. */
  private def check(ctx: Ctx, out: Map[String, Collected], raw: DataFrame): Seq[String] = {
    val spark = ctx.spark
    val cfg = StreamRig.Cfg
    // both twins' batch forms derive from the same enriched ticks
    val enriched = SmaCross.enrich(Normalize(raw), cfg).cache()
    val isLong = expr("spread > 0 AND prev_spread <= 0")
    val isShort = expr("spread < 0 AND prev_spread >= 0")
    val signals = enriched.select(col("product_id"), col("event_time"), col("sequence"),
      col("mid_price"), col("fast_sma"), col("slow_sma"), col("spread"),
      when(isLong, "LONG").when(isShort, "SHORT").otherwise("HOLD").as("signal_type"),
      when(isLong, 1.0).when(isShort, -1.0).otherwise(0.0).as("position"))
    val executions = Positions.executions(
      Positions.costs(Positions.stream(enriched), cfg), cfg).drop("metadata")
    val w = Window.partitionBy(col("product_id")).orderBy(col("event_time"), col("sequence"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = floor(col("price") * lit(1e4) + lit(0.5)).cast("long")
    val drawdown = raw.withColumn("runmax", max(k).over(w))
      .withColumn("dd", col("runmax") - k)
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("n_ticks"),
        (max(col("runmax")).cast("double") / 1e4).as("peak_price"),
        (max(col("dd")).cast("double") / 1e4).as("max_drawdown"),
        max(col("dd").cast("double") / col("runmax").cast("double")).as("max_dd_frac"))
    Seq("signals" -> (out("signals").frame(spark), signals),
      "executions" -> (out("executions").frame(spark), executions),
      "drawdown" -> (out("drawdown").frame(spark, Seq("product_id")), drawdown)).collect {
      case (n, (got, want)) if Print.of(got.select(want.columns.toIndexedSeq.map(col): _*)) !=
          Print.of(want) => n
    }
  }
}
