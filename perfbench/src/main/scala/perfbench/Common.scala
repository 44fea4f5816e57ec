package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a run hands every workload. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
    nproc: Int, workDir: String, fixture: Fixture, slateFile: String)

/** What a workload measured. `latenciesMs` are per operation; `events`
  * counts the input rows of the timed operations; `opWork`,
  * `planningMs`, `selfMs` and `sinkMs` are summed over the timed
  * operations (zero when untraced). `named` carries the workload's own
  * metrics by their specific names; `detail` goes to the artifact only. */
final case class Outcome(
    attempted: Int, failed: Int, correct: Boolean,
    warmupS: Double, timedMs: Double, ops: Int, opSpans: Seq[Span], events: Long,
    eventsPerS: Double,
    latenciesMs: Seq[Double], gcMs: Double,
    opWork: Work, planningMs: Double, selfMs: Double, sinkMs: Double,
    named: Seq[(String, Double, String)], detail: Map[String, Any] = Map.empty,
    failures: Seq[String] = Nil)

/** A sink that keeps every frame handed to it on the driver, tagged with
  * the batch it came in, so the outputs can be checked after timing. */
final class Collected {
  private val rows = mutable.ArrayBuffer[(Long, Row)]()
  private var schema: StructType = _

  def add(batch: Long, df: DataFrame): Unit = {
    val got = df.collect()
    synchronized {
      if (schema == null) schema = df.schema
      rows ++= got.map(batch -> _)
    }
  }

  /** Every collected row; with `lastBy`, only the row of the latest batch
    * per value of those columns (an upserting sink's final state). */
  def frame(spark: SparkSession, lastBy: Seq[String] = Nil): DataFrame = synchronized {
    val kept =
      if (lastBy.isEmpty) rows.map(_._2)
      else {
        val idx = lastBy.map(schema.fieldIndex)
        rows.groupBy { case (_, r) => idx.map(r.get) }.values.map(_.maxBy(_._1)._2)
      }
    spark.createDataFrame(kept.toSeq.asJava, schema)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Jvm {
  def nowMs: Double = System.nanoTime() / 1e6

  /** Collection time of every JVM collector so far. */
  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Order-insensitive fingerprint of a frame over all of its columns: a
  * row count and two sums of independent 64-bit row hashes. Every column
  * feeds the hashes, so no column is pruned (like the noop sink). */
final case class Print(rows: Long, h1: BigDecimal, h2: BigDecimal) {
  override def toString: String = s"$rows\t$h1\t$h2"
}

object Print {
  def of(df: DataFrame): Print = {
    val cols = df.columns.toIndexedSeq.map(c => df.col(s"`$c`"))
    val r = df.select(
        xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h1"),
        hash(cols: _*).cast(DecimalType(38, 0)).as("h2"))
      .agg(count(lit(1)), sum(col("h1")), sum(col("h2"))).head()
    def dec(i: Int) = if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))
    Print(r.getLong(0), dec(1), dec(2))
  }
}

/** The benchmark's tick fixture: the sf0.1 `events.parquet` (100,000
  * events of 1,500 users over the 30 days of January 2024), committed
  * under `perfbench/data/` and read through the program's own loader
  * (`TickQueries.ticks`). The workload seed drives only schedules and
  * orders, never these rows.
  *
  * Two spans: [[Fixture.Contract]] reads the ticks as they are;
  * [[Fixture.Live]] compresses event time 30x into the first day, with
  * keys, prices, quotes and order unchanged, so every instrument ticks far
  * more often than `StreamingJob`'s 6-hour idle-state TTL and the stream
  * outputs must equal the batch run over the same ticks. */
final case class Fixture(dir: String, days: Int, rows: Long, bytes: Long,
    ticks: DataFrame, prefix: IndexedSeq[Row]) {
  def spanUs: Long = days * 86400L * 1000000L
}

object Fixture {
  val Contract = 30
  val Live = 1
  /** Start of the fixture's event time, 2024-01-01T00:00Z, in epoch us. */
  val StartUs = 1704067200L * 1000000L

  /** How much of a fixture a workload needs: its row count only, the
    * ticks as a cached frame, or the first `n` ticks (event-time order)
    * on the driver. */
  sealed trait Need
  case object CountOnly extends Need
  case object Frame extends Need
  final case class Prefix(n: Int) extends Need

  /** Load `dir/events.parquet` over a span of `days`. */
  def load(spark: SparkSession, dir: String, days: Int, need: Need): Fixture = {
    val bytes = new java.io.File(s"$dir/events.parquet").length
    val read = graft.queries.TickQueries.ticks(spark, dir)
    val raw = if (days == Contract) read else read.withColumn("event_time",
      expr(s"timestamp_micros($StartUs + (unix_micros(event_time) - $StartUs) div ${Contract / days})"))
    need match {
      case CountOnly => Fixture(dir, days, raw.count(), bytes, raw, IndexedSeq.empty)
      case Frame =>
        val cached = raw.cache()
        Fixture(dir, days, cached.count(), bytes, cached, IndexedSeq.empty)
      case Prefix(n) =>
        val prefix = raw.orderBy(col("event_time"), col("sequence")).limit(n).collect()
        Fixture(dir, days, raw.count(), bytes, raw, prefix.toIndexedSeq)
    }
  }
}

/** Slices of a fixture as input frames. Pass `k` of the whole fixture
  * shifts event time by k fixture spans and sequence by k × 10^7, so each
  * instrument's series continues in order and no (product, sequence) key
  * repeats. */
object Replay {
  val SeqShift = 10000000L

  /** Ticks [from, until) of the fixture's driver-side prefix. */
  def frame(f: Fixture, from: Int, until: Int): DataFrame = {
    require(until <= f.prefix.size, s"fixture prefix of ${f.prefix.size} ticks exhausted")
    f.ticks.sparkSession.createDataFrame(f.prefix.slice(from, until).asJava, f.ticks.schema)
  }

  def pass(f: Fixture, k: Int): DataFrame =
    if (k == 0) f.ticks
    else f.ticks
      .withColumn("event_time",
        timestamp_micros(unix_micros(col("event_time")) + lit(k * f.spanUs)))
      .withColumn("sequence", col("sequence") + lit(k * SeqShift))
}

object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ": " + write(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case (a, b) => write(Seq(a, b))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
