package graft.streaming

import graft.config.StrategyConfig
import graft.ops.{Adaptive, Normalize, Performance, Positions}
import graft.strategy.{SmaCrossStrategy, Strategy, StrategyOutputs}
import org.apache.spark.sql.{DataFrame, LocalRebind, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
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

/** Structured-Streaming runner for a [[Strategy]]: ONE input stream, ONE
  * foreachBatch, five sinks — the multi-sink single-DAG obligation
  * (SURVEY §4): every sink reads the same micro-batch input instead of
  * five independent queries re-reading the source.
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
  * Two paths, one gate. One `take(gate + 1)` per micro-batch is the
  * emptiness check, the size probe and, under the gate, the whole fetch:
  *  - driver path (≤ [[StreamingJob.DriverBatchRows]] rows, SmaCross
  *    only): the tail lives on the driver per product. Each instrument of
  *    the batch folds its tail plus its new ticks once through
  *    [[SmaStep]]; the four row sinks get one `LocalRelation` of the
  *    emitted folded rows, the per-row columns (costs, clamps, `to_json`
  *    metadata) stay the strategy's own Spark expressions
  *    ([[SmaCrossStrategy.outputs]]), and metrics are `Performance`'s
  *    driver form over the open windows' folded rows: their exact per-row
  *    parts, combined per window on the driver, then finished by the same
  *    expressions as the batch aggregate. No Spark job per batch, except
  *    the fetch when the batch is not already local.
  *  - Spark path (larger batches, other strategies, or
  *    `graft.force.distributed` / `SPARK_GRAFT_FORCE_DISTRIBUTED` through
  *    [[Adaptive.threshold]]): the held tail becomes a `LocalRelation`,
  *    tail ∪ batch is persisted, the strategy runs over it and each sink
  *    reads its slice; the next tail (bounded by tailRows × live keys plus
  *    the open window) is collected back to the driver.
  * Both paths keep the one driver-held tail, so the state needs no
  * hand-over at the gate. Both emit the same rows, so sinks cannot tell
  * them apart; a tick neither can fold (no sequence, or no price and no
  * quotes) fails the batch on either path before any sink runs.
  *
  * Event time: watermark bounds disorder at the source (T1,
  * __main__.py:63); rows later than the watermark may still reach
  * foreachBatch and are handled by recomputation within the tail, matching
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

  /** Rows of per-key history that fully determine every rolling operator. */
  val tailRows: Int =
    math.max(cfg.smaSlowWindow, Normalize.VolatilityLookback) + cfg.confirmation + 1

  /** cfg.metricsWindow ("5 minutes") in milliseconds. */
  val metricsWindowMs: Long = EventTime.durationMs(cfg.metricsWindow)

  /** Keyed-state TTL (T4 parity: `table.exec.state.ttl = PT6H`,
    * __main__.py:45): tail rows of instruments idle longer than this are
    * evicted, bounding state to active keys. */
  val idleStateTtlMs: Long = EventTime.durationMs(idleStateTtl)

  private def windowStartMs(tsMs: Long): Long = tsMs - Math.floorMod(tsMs, metricsWindowMs)

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

  /** One micro-batch: fetch up to gate + 1 rows, then fold on the driver
    * or recompute in Spark. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    // the driver fold is SmaCross's keyed step; other strategies recompute
    val gate = if (strategy eq SmaCrossStrategy) Adaptive.threshold(DriverBatchRows) else -1L
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

  private def emit(out: StrategyOutputs): Unit = {
    sinks.normalized(out.normalized)
    sinks.signals(out.signals)
    sinks.positions(out.positions)
    sinks.executions(out.executions)
    sinks.metrics(out.metrics)
  }

  /** Driver path: fold each instrument of the batch once, hand the sinks
    * `LocalRelation` frames, keep the trimmed tail on the driver. */
  private def driverBatch(spark: SparkSession, ticks: Seq[Tick]): Unit = {
    val prior = tail
    val held = prior.fold(Map.empty[String, Vector[Held]])(_.keys)
    val byKey = ticks.groupBy(_.product)
    val refolded = byKey.map { case (k, ts) =>
      k -> fold(held.getOrElse(k, Vector.empty).map(_.tick) ++ ts, cfg)
    }
    // everything at or after the batch's first (event_time, sequence) per
    // product is (re-)emitted — the Spark path's `newOnly`
    val emitted = byKey.toSeq.flatMap { case (k, ts) =>
      val lo = ts.minBy(t => (t.us, t.seq))
      refolded(k).filter(h => h.tick.us > lo.us || (h.tick.us == lo.us && h.tick.seq >= lo.seq))
    }
    val keys = held ++ refolded
    // Metrics: windows at or after the previous batch's open window, over
    // every instrument's held rows (all of them are in the tail); with no
    // earlier state, every window of this batch.
    val windowRows = prior match {
      case Some(p) =>
        val fromMs = windowStartMs(Math.floorDiv(p.maxUs, 1000L))
        keys.valuesIterator.flatMap(_.reverseIterator
          .takeWhile(h => windowStartMs(Math.floorDiv(h.tick.us, 1000L)) >= fromMs)).toSeq
      case None => refolded.valuesIterator.flatten.toSeq
    }
    emit(driverPlans(spark).bind(emitted.map(_.folded), windowRows.map(_.folded)))

    val maxUs = (ticks.iterator.map(_.us) ++ prior.map(_.maxUs)).max
    commit(Some(HeldTail(keys.flatMap { case (k, hs) =>
      Some(trim(hs, maxUs)).filter(_.nonEmpty).map(k -> _)
    }, maxUs)))
  }

  @volatile private var plans: Option[DriverPlans] = None

  private def driverPlans(spark: SparkSession): DriverPlans =
    plans.filter(_.spark eq spark).getOrElse {
      val p = new DriverPlans(spark, cfg)
      plans = Some(p)
      p
    }

  /** The Spark path's tail rule per key, on rows in (event_time, sequence)
    * order: every row of the open metrics window plus `tailRows` older
    * ones, none idle past the TTL. Second-truncated times, as the Spark
    * path's `cast("long") * 1000` compares them. */
  private def trim(hs: Vector[Held], maxUs: Long): Vector[Held] = {
    def secMs(h: Held) = Math.floorDiv(h.tick.us, 1000000L) * 1000L
    val maxEventMs = Math.floorDiv(maxUs, 1000L)
    val openStartMs = windowStartMs(maxEventMs)
    val firstOpen = hs.lastIndexWhere(secMs(_) < openStartMs) + 1
    val firstLive = hs.indexWhere(secMs(_) >= maxEventMs - idleStateTtlMs) match {
      case -1 => hs.size
      case i => i
    }
    hs.drop(math.max(firstOpen - tailRows, firstLive))
  }

  /** Spark path: prepend the tail, run the strategy once over the
    * persisted input, fan out. */
  private def sparkBatch(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val tailFrame = tail.map(_.frame(spark))
    // The tail carries every row of the still-open metrics window, so its
    // high-water mark is the previous batch's; windows at or after its
    // window-start were NOT final then and are re-emitted refined. One
    // scalar job gives the batch's max event time.
    val tailMaxMs = tail.map(t => Math.floorDiv(t.maxUs, 1000L))
    val prevOpenStartMs = tailMaxMs.map(windowStartMs)
    val maxEventMs = (tailMaxMs.toSeq :+
      batch.agg(max(col("event_time"))).head().getTimestamp(0).getTime).max
    val withTail = tailFrame match {
      // A replayed batch (crash after the tail was persisted but before the
      // micro-batch committed) is already inside the tail: keep one copy of
      // each (product_id, sequence) tick, or the rolling SMAs/volatility
      // would run over doubled rows and upsert wrong values. Duplicate keys
      // only ever carry identical rows (a tick is immutable), so which copy
      // survives is immaterial.
      case Some(t) => t.unionByName(batch.select(t.columns.map(col).toIndexedSeq: _*))
        .dropDuplicates("product_id", "sequence")
      case None => batch
    }
    val input = withTail.persist(StorageLevel.MEMORY_AND_DISK)
    val openStartMs = windowStartMs(maxEventMs)

    // Lower bound of new data per key: everything >= the batch's first
    // (event_time, sequence) per product is (re-)emitted.
    val bounds = batch.groupBy(col("product_id")).agg(
      min(struct(col("event_time"), col("sequence"))).as("lo"))
    def newOnly(df: DataFrame, timeCol: String, keyCol: String = "product_id"): DataFrame = {
      val cols = df.columns.toIndexedSeq
      df.join(broadcast(bounds.withColumnRenamed("product_id", keyCol)), Seq(keyCol))
        .filter(struct(col(timeCol), col("sequence")) >= col("lo"))
        .select(cols.map(col): _*)
    }

    val out: StrategyOutputs = strategy(input, cfg)
    // Metrics: emit only windows fully covered by this input — i.e. not
    // finalized before the previous batch's open window. Earlier windows
    // already received their final upsert; rows later than that horizon
    // are dropped from metrics (T3 drop-after-watermark envelope).
    emit(StrategyOutputs(
      newOnly(out.normalized, "event_time"),
      newOnly(out.signals, "signal_time", keyCol = "instrument_id"),
      newOnly(out.positions, "event_time"),
      newOnly(out.executions, "signal_time"),
      prevOpenStartMs.fold(out.metrics)(ms => out.metrics.filter(
        col("metric_time").cast("long") * 1000L >= lit(ms + metricsWindowMs)))))

    // New tail per key = every row of the open metrics window (so the next
    // batch can refine it) + tailRows older rows (rolling-operator lookback).
    val older = Window.partitionBy(col("product_id"))
      .orderBy(col("event_time").desc, col("sequence").desc)
    val nextTail = input
      .withColumn("__rn", row_number().over(older))
      .withColumn("__openRows", sum(
        when(col("event_time").cast("long") * 1000L >= lit(openStartMs), 1)
          .otherwise(0)).over(older.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter((col("event_time").cast("long") * 1000L >= lit(openStartMs) ||
        col("__rn") - col("__openRows") <= tailRows) &&
        col("event_time").cast("long") * 1000L >= lit(maxEventMs - idleStateTtlMs))
      .select(TailCols: _*)
      .collect()
    input.unpersist()
    commit(HeldTail.of(nextTail.toSeq.map(Tick.of), cfg))
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

  /** The driver path's gate: micro-batches of at most this many ticks are
    * folded on the driver. Measured crossover (perfbench live_feed
    * fixture, five collecting sinks, 4-core local[4]): the driver fold
    * is faster through 30,000 ticks per batch (5.4 s vs 6.3 s medians)
    * and slower at 40,000 (7.0 s vs 6.1 s). */
  val DriverBatchRows = 30000L

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
  private val FoldedSchema = StructType(TailSchema.fields.take(3) ++
    Seq("mid_price", "best_bid", "best_ask", "returns", "volatility", "fast_sma", "slow_sma",
      "spread", "prev_spread", "position", "prev_position").map(StructField(_, DoubleType)))

  /** Driver-held tail: per product, its ticks in (event_time, sequence)
    * order with their folded rows; `maxUs` is the high-water mark. */
  private final case class HeldTail(keys: Map[String, Vector[Held]], maxUs: Long) {
    def rows: Seq[Row] = keys.valuesIterator.flatten.map(_.tick.row).toSeq
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, TailSchema)
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

  /** The driver path's sink frames, built and analysed once per session
    * over three template leaves — the emitted rows, the open windows'
    * rows and their per-window parts — and re-pointed at each batch's
    * rows (building them afresh per batch added ~350 ms of live_feed
    * tick latency on a 4-core host). The per-row columns are
    * SmaCrossStrategy's own (`outputs`, and Positions' per-row halves
    * around the folded `position`/`prev_position`). Metrics take
    * `Performance`'s driver form: the open windows' per-row parts, a
    * Project over their `LocalRelation`, are combined per window on the
    * driver and finished by `Performance`'s own expressions. No step is
    * a Spark job. */
  private final class DriverPlans(val spark: SparkSession, cfg: StrategyConfig) {
    private def costsOf(folded: DataFrame): DataFrame =
      Positions.costRows(Positions.streamRows(folded, col("position")), cfg, col("prev_position"))
    private val emitted = LocalRebind.template(spark, FoldedSchema)
    private val windows = LocalRebind.template(spark, FoldedSchema)
    private val parts =
      Performance.windowParts(Performance.positionReturns(costsOf(windows)), cfg)
    private val perWindow = LocalRebind.template(spark, Performance.windowSchema(parts.schema))
    private val out = SmaCrossStrategy.outputs(emitted, costsOf(emitted),
      Performance.metrics(Performance.finishWindows(perWindow), cfg), cfg)

    def bind(emittedRows: Seq[Row], windowRows: Seq[Row]): StrategyOutputs = {
      val Seq(rowParts) = LocalRebind(Seq(parts), Seq(windows -> windowRows))
      val Seq(normalized, signals, positions, executions, metrics) = LocalRebind(
        Seq(out.normalized, out.signals, out.positions, out.executions, out.metrics),
        Seq(emitted -> emittedRows,
          perWindow -> Performance.combineWindows(rowParts.collect().toSeq)))
      StrategyOutputs(normalized, signals, positions, executions, metrics)
    }
  }

  /** One instrument's ticks, one copy per sequence (a replayed batch is
    * already in the tail), folded once in (event_time, sequence) order. */
  private def fold(ticks: Seq[Tick], cfg: StrategyConfig): Vector[Held] = {
    val step = new SmaStep(cfg)
    ticks.distinctBy(_.seq).sortBy(t => (t.us, t.seq)).iterator.map { t =>
      val o = step(t.mid)
      Held(t, Row(t.product, t.time, t.seq, o.mid, t.bid, t.ask, o.returns, o.volatility,
        o.fastSma, o.slowSma, o.spread, o.prevSpread, o.position, o.prevPosition))
    }.toVector
  }
}
