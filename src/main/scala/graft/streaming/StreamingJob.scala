package graft.streaming

import graft.config.StrategyConfig
import graft.ops.{Adaptive, Normalize, Performance, Positions}
import graft.strategy.{SmaCrossStrategy, Strategy}
import org.apache.spark.sql.{DataFrame, Encoders, LocalPlan, LocalRebind, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Per-sink writer callbacks (the streaming analog of the reference's five
  * INSERT INTO statements in one StatementSet, __main__.py:239-241). Each
  * receives the micro-batch slice of its stream. Metrics windows that
  * overlap a batch boundary are re-emitted with refined values — sinks must
  * upsert on (strategy_run_id, metric_time, window_label), exactly the
  * reference's at-least-once JDBC + PK model (02_schema.sql:149,175).
  */
final case class Sinks(
    normalized: DataFrame => Unit = _ => (),
    signals: DataFrame => Unit = _ => (),
    positions: DataFrame => Unit = _ => (),
    executions: DataFrame => Unit = _ => (),
    metrics: DataFrame => Unit = _ => ())

/** Structured-Streaming runner for [[SmaCrossStrategy]]: ONE input stream,
  * ONE foreachBatch, five sinks — the multi-sink single-DAG obligation
  * (SURVEY §4): every sink reads the same micro-batch input instead of
  * five independent queries re-reading the source. Any other strategy
  * is refused at construction: the keyed step is SmaCross's arithmetic.
  *
  * Cross-batch correctness: the rolling operators (SMAs, volatility,
  * confirmation lag, prev-position) look back up to
  * `slow_window + confirmation + 1` rows per key. The job carries that
  * many trailing raw rows per product as explicit state (plus every row of
  * the still-open metrics window), folds them together with each
  * micro-batch, and emits only rows at or after the batch's first
  * (event_time, sequence) per product — so a tick's signal is identical
  * whether the stream was cut here or not (streaming ≡ batch, verified by
  * StreamingJobSpec). State is ≤ tailRows × live instruments raw rows
  * plus the open window; instruments idle past `idleStateTtl` are evicted.
  *
  * One keyed step on both sides of one gate. Per instrument it folds the
  * held tail plus the new ticks once through [[SmaStep]] and yields three
  * suffixes of the folded rows: the rows to emit, the rows of the metrics
  * windows the batch may refine, and the next tail, trimmed at the
  * batch's high-water mark. A held instrument without new ticks takes it
  * too (its open window, TTL eviction). The row sinks read
  * [[SmaCrossStrategy.outputs]] over the emitted rows and metrics are
  * `Performance` over the windows' rows, analysed once per session for
  * both sides. One `take(gate + 1)` per micro-batch is the emptiness
  * check, the size probe and, under the gate, the whole fetch:
  *  - driver path (≤ [[StreamingJob.DriverBatchRows]] rows): the step runs
  *    on the driver, which holds the folded tail (an instrument without
  *    new ticks is not refolded). The sink plans are compiled once per
  *    session ([[org.apache.spark.sql.LocalPlan]]) and each sink gets a
  *    bare `LocalRelation` of finished rows; metrics combine
  *    `Performance`'s exact per-row parts on the driver. No Spark job,
  *    except the fetch when the batch is not already local, and no
  *    Catalyst work but the fetch and each sink's own action.
  *  - Spark path (larger batches, or `graft.force.distributed` /
  *    `SPARK_GRAFT_FORCE_DISTRIBUTED` through [[Adaptive.threshold]]): a
  *    scalar job finds the high-water mark, then the step runs in
  *    `groupByKey(product_id).flatMapGroups` over the batch and the held
  *    tail's rows, tagged by origin; its output is persisted once for
  *    every sink, and the next tail is collected to the driver.
  * Both paths keep the one driver-held tail, so the state needs no
  * hand-over at the gate. Both emit the same rows, so sinks cannot tell
  * them apart; a tick neither can fold (no sequence, or no price and no
  * quotes) fails the batch on either path before any sink runs.
  *
  * Event time: watermark bounds disorder at the source (T1,
  * __main__.py:63); rows later than the watermark may still reach
  * foreachBatch and are handled by refolding within the tail, matching
  * the reference's drop-after-watermark envelope (T3).
  *
  * Exactly-once through the fan-out: with a checkpoint dir the tail is
  * committed as the next [[TailStore]] version under
  * `<checkpoint>/graft-tail` (a driver-side file write and rename, no
  * Spark job) only AFTER every sink callback returns (and only then
  * replaces the in-memory state), so a crash inside any sink replays
  * the whole micro-batch against the pre-batch tail — the recomputed
  * frames are bit-identical (streaming ≡ batch) and PK-idempotent JDBC
  * sinks ([[graft.io.JdbcSink.upsert]], wired by Main's
  * JDBC_WRITE_MODE=upsert) absorb the re-delivery.
  * MultiSinkExactlyOnceSpec proves the composition end to end. On
  * restart the newest committed version is loaded; a crash mid-commit
  * leaves the previous one. No committed version means no state yet; one
  * that cannot be read throws rather than restart the rolling state from
  * zero.
  */
final class StreamingJob(
    strategy: Strategy,
    cfg: StrategyConfig,
    sinks: Sinks,
    watermarkDelay: String = "5 seconds",
    checkpointDir: Option[String] = None,
    idleStateTtl: String = "6 hours") extends Serializable {
  import StreamingJob._

  require(strategy eq SmaCrossStrategy,
    s"StreamingJob folds ${SmaCrossStrategy.name}'s keyed step; it cannot run '${strategy.name}'")

  /** Rows of per-key history that fully determine every rolling operator. */
  val tailRows: Int =
    math.max(cfg.smaSlowWindow, Normalize.VolatilityLookback) + cfg.confirmation + 1

  /** cfg.metricsWindow ("5 minutes") in milliseconds. */
  val metricsWindowMs: Long = EventTime.durationMs(cfg.metricsWindow)

  /** Keyed-state TTL (T4 parity: `table.exec.state.ttl = PT6H`,
    * __main__.py:45): tail rows of instruments idle longer than this are
    * evicted, bounding state to active keys. */
  val idleStateTtlMs: Long = EventTime.durationMs(idleStateTtl)

  @volatile private var tail: Option[HeldTail] = None
  @volatile private var tailLoaded = false
  @volatile private var store: Option[TailStore] = None

  /** The committed tail on restart: the newest version under
    * `<checkpoint>/graft-tail` ([[TailStore]]). */
  private def loadTail(spark: SparkSession): Unit = {
    store = checkpointDir.map(d => new TailStore(s"$d/graft-tail", spark))
    tail = store.flatMap(s => HeldTail.of(s.load().map(Tick.of), cfg))
  }

  /** Runs only after every sink has returned: a crash before it replays
    * the batch against the previous tail. */
  private def commit(next: Option[HeldTail]): Unit = {
    store.foreach(_.commit(next.toSeq.flatMap(_.rows)))
    tail = next
  }

  /** One micro-batch: fetch up to gate + 1 rows, then take the keyed step
    * on the driver or in executors. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val gate = Adaptive.threshold(DriverBatchRows)
    val checked = batch.withColumn("price", checkedPrice)
    val fetched = checked.select(TailCols: _*).take(math.max(gate, 0L).toInt + 1)
    if (fetched.isEmpty) return
    val spark = batch.sparkSession
    // Load the persisted tail on the FIRST batch this process handles,
    // whatever its id: after a checkpoint restart foreachBatch resumes with
    // the last UNcommitted batchId (> 0), and the pre-crash tail must still
    // seed the rolling operators (invariant 5, streaming ≡ batch).
    if (!tailLoaded) { loadTail(spark); tailLoaded = true }
    if (fetched.length <= gate) driverBatch(spark, fetched.toSeq.map(Tick.of))
    else sparkBatch(checked)
  }

  /** The five sink frames, in [[Sinks]]' order. */
  private def emit(frames: Seq[DataFrame]): Unit =
    Seq(sinks.normalized, sinks.signals, sinks.positions, sinks.executions, sinks.metrics)
      .zip(frames).foreach { case (sink, df) => sink(df) }

  /** The keyed step of a batch whose high-water mark is `maxUs`. */
  private def stepTo(maxUs: Long): KeyStep =
    KeyStep(cfg, tailRows, metricsWindowMs, idleStateTtlMs, tail.map(_.maxUs), maxUs)

  /** Driver path: the step per held or fed instrument, `LocalRelation`
    * frames for the sinks, the trimmed tail kept on the driver. */
  private def driverBatch(spark: SparkSession, ticks: Seq[Tick]): Unit = {
    val held = tail.fold(Map.empty[String, Vector[Held]])(_.keys)
    val byKey = ticks.groupBy(_.product)
    val maxUs = (ticks.iterator.map(_.us) ++ tail.map(_.maxUs)).max
    val step = stepTo(maxUs)
    val keyed = (held.keySet ++ byKey.keySet).toSeq.map { k =>
      val hs = held.getOrElse(k, Vector.empty)
      k -> step(hs.view.map(_.tick), hs, byKey.getOrElse(k, Nil))
    }
    emit(sinkPlans(spark).local(keyed.flatMap(_._2.emitted), keyed.flatMap(_._2.windows)))
    commit(Some(HeldTail(keyed.collect { case (k, s) if s.kept.nonEmpty => k -> s.kept }.toMap,
      maxUs)))
  }

  @volatile private var plans: Option[SinkPlans] = None

  private def sinkPlans(spark: SparkSession): SinkPlans =
    plans.filter(_.spark eq spark).getOrElse {
      val p = new SinkPlans(spark, cfg)
      plans = Some(p)
      p
    }

  /** Spark path: the step in executors over the batch and the held tail,
    * its output persisted once and read by every sink, then the next tail
    * collected. The output is unpersisted even when a sink throws. */
  private def sparkBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    // one scalar job: trim needs the batch's high-water mark in every group
    val maxUs = (tail.map(_.maxUs).toSeq :+
      EventTime.micros(batch.agg(max(col("event_time"))).head().getTimestamp(0))).max
    val fed = batch.select(TailCols :+ lit(false).as("held"): _*)
    val input = tail.fold(fed)(t => fed.unionByName(spark.createDataFrame(
      t.rows.map(r => Row.fromSeq(r.toSeq :+ true)).asJava, TailSchema.add("held", BooleanType))))
    val out = foldGroups(input, stepTo(maxUs)).persist(StorageLevel.MEMORY_AND_DISK)
    val kept = try {
      def rows(role: String) = out.filter(col(role)).select(FoldedSchema.fieldNames.map(col): _*)
      emit(sinkPlans(spark).distributed(rows("emit"), rows("window")))
      out.filter(col("keep")).select(TailCols: _*).collect()
    } finally out.unpersist()
    commit(HeldTail.of(kept.toSeq.map(Tick.of), cfg))
  }

  /** Feed one pre-built micro-batch directly — the paced-replay consumer
    * path: [[graft.io.PacedReplay]] publishes event-time slices straight
    * into the job without a message bus, with identical semantics to a
    * foreachBatch invocation (PacedReplaySpec proves replay-at-speed ≡
    * one-shot batch). */
  def feedBatch(df: DataFrame): Unit =
    processBatch(df, fedBatches.getAndIncrement())

  private val fedBatches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Start the single multi-sink streaming query. */
  def start(raw: DataFrame): StreamingQuery = {
    graft.io.LocalFs.bind(raw.sparkSession) // the query's offset and commit logs
    val writer = raw
      .withWatermark("event_time", watermarkDelay)
      .writeStream
      .queryName(s"${strategy.name}-pipeline") // cf. "{strategy}-pipeline", __main__.py:241
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d + "/query"))
      .start()
  }
}

object StreamingJob {

  /** The driver path's gate: micro-batches of at most this many ticks
    * take the keyed step on the driver. Measured crossover (perfbench
    * live_feed fixture, five collecting sinks, a checkpoint, 4-core
    * local[4], medians of 3 batches in each of two runs): the driver is
    * faster through 3,000 ticks (0.88–0.95 s vs 1.37–1.42 s), even at
    * 5,000 (1.17–1.38 s vs 1.15–1.47 s) and slower from 7,500 (1.56–1.66
    * s vs 1.24–1.52 s) and at 10,000 (1.90–1.91 s vs 1.39–1.46 s). */
  val DriverBatchRows = 5000L

  private val TailSchema = TailStore.Schema
  private val TailCols = TailStore.Columns

  /** `price`, failing the batch on a tick neither path can fold: one with
    * no sequence (it has no place in (event_time, sequence) order and no
    * dedup key) or with no price and no quotes (no mid price). Checked
    * before the gate, so both paths reject the same input. */
  private val checkedPrice = when(col("sequence").isNull ||
    col("price").isNull && (col("best_bid").isNull || col("best_ask").isNull),
    raise_error(concat(lit("tick "), col("product_id"), lit("/"),
      coalesce(col("sequence").cast("string"), lit("?")),
      lit(" has no sequence, or no price and no quotes"))))
    .otherwise(col("price"))

  /** Folded rows: every column the per-row half of SmaCrossStrategy reads. */
  private[streaming] val FoldedSchema = StructType(TailSchema.fields.take(3) ++
    Seq("mid_price", "best_bid", "best_ask", "returns", "volatility", "fast_sma", "slow_sma",
      "spread", "prev_spread", "position", "prev_position").map(StructField(_, DoubleType)))

  /** The Spark path's step output: a folded row, its raw `price` (for
    * the next tail) and the roles it takes, each row once. */
  private val StepSchema = StructType(FoldedSchema.fields ++ Seq(StructField("price", DoubleType)) ++
    Seq("emit", "window", "keep").map(StructField(_, BooleanType, nullable = false)))

  /** Driver-held tail: per product, its ticks in (event_time, sequence)
    * order with their folded rows; `maxUs` is the high-water mark. */
  private final case class HeldTail(keys: Map[String, Vector[Held]], maxUs: Long) {
    def rows: Seq[Row] = keys.valuesIterator.flatten.map(_.tick.row).toSeq
  }
  private object HeldTail {
    def of(ticks: Seq[Tick], cfg: StrategyConfig): Option[HeldTail] =
      if (ticks.isEmpty) None
      else Some(HeldTail(ticks.groupBy(_.product).map { case (k, ts) => k -> fold(ts, cfg) },
        ticks.iterator.map(_.us).max))
  }

  private final case class Tick(
      product: String, time: java.sql.Timestamp, us: Long, seq: Long,
      price: java.lang.Double, bid: java.lang.Double, ask: java.lang.Double) {
    def row: Row = Row(product, time, seq, price, bid, ask)
    def mid: Double = if (bid != null && ask != null) (bid + ask) / 2d else price.doubleValue
  }
  private object Tick {
    def of(r: Row): Tick = {
      def d(i: Int) = r.get(i).asInstanceOf[java.lang.Double]
      Tick(r.getString(0), r.getTimestamp(1), EventTime.micros(r.getTimestamp(1)), r.getLong(2),
        d(3), d(4), d(5))
    }
  }

  private final case class Held(tick: Tick, folded: Row)

  /** The per-key step of one micro-batch, the same on both gate sides.
    * `priorMaxUs` is the held tail's high-water mark (none before the
    * first batch), `maxUs` this batch's. */
  private final case class KeyStep(cfg: StrategyConfig, tailRows: Int, windowMs: Long,
      ttlMs: Long, priorMaxUs: Option[Long], maxUs: Long) {
    private def windowStartMs(ms: Long) = ms - Math.floorMod(ms, windowMs)
    // Metrics: every window at or after the previous batch's open window,
    // whose rows are all held; earlier windows had their final upsert, and
    // a late row in one is left out (T3 drop-after-watermark envelope).
    // With no earlier state, every window.
    private val fromMs =
      priorMaxUs.fold(Long.MinValue)(us => windowStartMs(Math.floorDiv(us, 1000L)))

    /** One key: `held` are its held ticks and `folded` their fold, which a
      * key with no new `ticks` keeps (it is not refolded); otherwise held
      * ++ new ticks are folded once and everything at or after the first
      * new (event_time, sequence) is (re-)emitted. */
    def apply(held: Iterable[Tick], folded: => Vector[Held], ticks: Seq[Tick]): Keyed =
      if (ticks.isEmpty) keyed(folded, folded.size)
      else {
        val rows = fold(held ++ ticks, cfg)
        val lo = ticks.minBy(t => (t.us, t.seq))
        keyed(rows, rows.lastIndexWhere(h =>
          h.tick.us < lo.us || (h.tick.us == lo.us && h.tick.seq < lo.seq)) + 1)
      }

    /** The tail rule: every row of the open metrics window plus `tailRows`
      * older ones, none idle past the TTL, times compared in whole
      * seconds. */
    private def keyed(rows: Vector[Held], emitFrom: Int): Keyed = {
      def secMs(h: Held) = Math.floorDiv(h.tick.us, 1000000L) * 1000L
      val maxMs = Math.floorDiv(maxUs, 1000L)
      val firstOpen = rows.lastIndexWhere(secMs(_) < windowStartMs(maxMs)) + 1
      val firstLive = rows.segmentLength(secMs(_) < maxMs - ttlMs)
      Keyed(rows, emitFrom,
        rows.lastIndexWhere(h => windowStartMs(Math.floorDiv(h.tick.us, 1000L)) < fromMs) + 1,
        math.max(firstOpen - tailRows, firstLive))
    }
  }

  /** One key's folded rows in (event_time, sequence) order and where each
    * use of them starts: the emitted rows, the metrics windows' rows and
    * the next tail are each a suffix. */
  private final case class Keyed(rows: Vector[Held], emitFrom: Int, windowFrom: Int,
      keepFrom: Int) {
    def emitted: Seq[Row] = rows.drop(emitFrom).map(_.folded)
    def windows: Seq[Row] = rows.drop(windowFrom).map(_.folded)
    def kept: Vector[Held] = rows.drop(keepFrom)
    /** The Spark path's rows, in [[StepSchema]]. */
    def tagged: Iterator[Row] =
      rows.indices.iterator.drop(emitFrom min windowFrom min keepFrom).map { i =>
        Row.fromSeq(rows(i).folded.toSeq ++
          Seq(rows(i).tick.price, i >= emitFrom, i >= windowFrom, i >= keepFrom))
      }
  }

  /** The Spark path's step: per product, over its fed rows and its held
    * tail's (the `held` column tags which), every row of [[StepSchema]]. */
  private def foldGroups(input: DataFrame, step: KeyStep): DataFrame =
    input.groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .flatMapGroups { (_: String, rows: Iterator[Row]) =>
        val (held, fed) = rows.toVector.partition(_.getBoolean(6))
        val tail = held.map(Tick.of)
        step(tail, fold(tail, step.cfg), fed.map(Tick.of)).tagged
      }(Encoders.row(StepSchema)).toDF()

  /** The sink frames of both sides, built and analysed once per session
    * over template leaves — the emitted folded rows, the metrics windows'
    * rows and their per-window parts (building them afresh per batch
    * added ~350 ms of live_feed tick latency on a 4-core host). The four
    * row sinks are SmaCrossStrategy's per-row columns (Positions' per-row
    * halves around the folded `position`/`prev_position`). Metrics are
    * `Performance` over the windows' rows; on the driver, its driver
    * form: the per-row parts, combined per window on the driver and
    * finished by `Performance`'s own expressions.
    *
    * The Spark path re-points the analysed plans at its persisted frames.
    * The driver path's plans — the row sinks, the parts and the finish —
    * are compiled here, once ([[LocalPlan]]; a plan that cannot be
    * compiled fails the construction), so a batch runs no Catalyst work
    * of its own: each sink gets a bare `LocalRelation` of finished rows. */
  private[streaming] final class SinkPlans(val spark: SparkSession, cfg: StrategyConfig) {
    private def costsOf(folded: DataFrame): DataFrame =
      Positions.costRows(Positions.streamRows(folded, col("position")), cfg, col("prev_position"))
    private val emitted = LocalRebind.template(spark, FoldedSchema)
    private val windows = LocalRebind.template(spark, FoldedSchema)
    private val parts =
      Performance.windowParts(Performance.positionReturns(costsOf(windows)), cfg)
    private val perWindow = LocalRebind.template(spark, Performance.windowSchema(parts.schema))
    private val out = SmaCrossStrategy.outputs(emitted, costsOf(emitted),
      Performance.metrics(Performance.finishWindows(perWindow), cfg), cfg)
    private val rowSinks = Seq(out.normalized, out.signals, out.positions, out.executions)
    private val sparkMetrics = Performance(costsOf(windows), cfg)

    val localRows = rowSinks.map(new LocalPlan(_, emitted))
    val localParts = new LocalPlan(parts, windows)
    val localFinish = new LocalPlan(out.metrics, perWindow)

    /** Driver path: no Catalyst work but each frame's bare leaf. */
    def local(emittedRows: Seq[Row], windowRows: Seq[Row]): Seq[DataFrame] =
      localRows.map(_(emittedRows)) :+
        localFinish(Performance.combineWindows(localParts.rows(windowRows)))

    /** Spark path: the same row sinks over distributed frames. */
    def distributed(emittedRows: DataFrame, windowRows: DataFrame): Seq[DataFrame] =
      LocalRebind.onto(rowSinks :+ sparkMetrics, Seq(emitted -> emittedRows, windows -> windowRows))
  }

  /** One instrument's ticks, one copy per sequence (a replayed batch is
    * already in the tail), folded once in (event_time, sequence) order. */
  private def fold(ticks: Iterable[Tick], cfg: StrategyConfig): Vector[Held] = {
    val step = new SmaStep(cfg)
    ticks.iterator.distinctBy(_.seq).toVector.sortBy(t => (t.us, t.seq)).map { t =>
      val o = step(t.mid)
      Held(t, Row(t.product, t.time, t.seq, o.mid, t.bid, t.ask, o.returns, o.volatility,
        o.fastSma, o.slowSma, o.spread, o.prevSpread, o.position, o.prevPosition))
    }
  }
}
