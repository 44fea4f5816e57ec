package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM entry point: one workload, one run.
  *
  * {{{
  * perfbench.Main --workload <live_feed|contract_slate|keyed_state>
  *   --seed <n> --seconds <s> --trace <0|1> --out <dir> --data <dir>
  *   --slate <slate.tsv> [--commit <sha>]
  * }}}
  *
  * Prints every metric by name and unit, then, as the last stdout line,
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * untraced, the per-layer metrics traced. Writes the run's artifact (and,
  * traced, its spans) under `--out`. Exits 1 when any operation threw or
  * failed its output check; failed operations are never timed into a
  * metric. */
object Main {

  final case class Workload(why: String, run: Ctx => Outcome)

  val Workloads: Map[String, Workload] = Map(
    "live_feed" -> Workload(
      "open loop at 200 ticks/s into StreamingJob.feedBatch: per-batch fixed cost sets tick latency",
      LiveFeed.run),
    "contract_slate" -> Workload(
      "contract queries via SparkEntry.queries, eager and short groups: no streaming code on the path",
      ContractSlate.run),
    "keyed_state" -> Workload(
      "closed-loop PacedReplay of ~10k-tick slices into the Stateful* twins: keyed state is measured",
      KeyedState.run))

  /** Per-layer metric → (end-to-end metric it should move, on which
    * workloads). An operation is a feedBatch call (live_feed), a query
    * (contract_slate) or a published slice (keyed_state). */
  val LayerTargets: Map[String, (String, String)] = Map(
    "jobs_per_op" -> ("latency_p50_ms", "live_feed most; contract_slate short group"),
    "stages_per_op" -> ("latency_p50_ms", "live_feed, contract_slate"),
    "tasks_per_op" -> ("latency_p50_ms", "contract_slate short group, live_feed"),
    "task_run_ms_per_op" -> ("events_per_s", "keyed_state"),
    "task_cpu_ms_per_op" -> ("events_per_s", "keyed_state"),
    "task_cpu_ms_per_event" -> ("events_per_s", "keyed_state"),
    "gc_ms_per_op" -> ("latency_p50_ms", "all"),
    "planning_ms_per_op" -> ("latency_p50_ms", "contract_slate short group, keyed_state"),
    "outside_jobs_ms_per_op" -> ("latency_p50_ms", "contract_slate eager group, live_feed"),
    "core_busy_share" -> ("latency_p50_ms", "contract_slate short group"),
    "self_ms_per_op" -> ("latency_p50_ms",
      "live_feed: feedBatch minus sinks; contract_slate: query body; keyed_state: publish minus the slowest twin's micro-batch"),
    "sink_ms_per_op" -> ("latency_p50_ms",
      "live_feed: the five sinks; contract_slate: forcing action; keyed_state: the slowest twin's addBatch"),
    "shuffle_read_bytes_per_op" -> ("latency_p50_ms", "contract_slate eager group"),
    "shuffle_write_bytes_per_op" -> ("latency_p50_ms", "contract_slate eager group"),
    "spill_bytes_per_op" -> ("latency_p50_ms", "contract_slate eager group"))

  /** The gated end-to-end metrics. Tail latencies stay in the artifact:
    * a 10-second run holds too few independent operations (3 to 12) for
    * a tail percentile to repeat across runs. */
  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "events_per_s" -> "1/s")

  private def need(workload: String): Fixture.Need = workload match {
    case "contract_slate" => Fixture.CountOnly
    case "live_feed" => Fixture.Prefix(LiveFeed.PrefixTicks)
    case _ => Fixture.Frame
  }

  def session(nproc: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val wl = Workloads.getOrElse(name, sys.error(
      s"unknown workload $name; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val nproc = Runtime.getRuntime.availableProcessors
    val runId = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val workDir = s"$out/work-${ProcessHandle.current.pid}"
    new java.io.File(workDir).mkdirs()

    var spark = session(nproc, workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // the fixture load is measured three times and its median kept; each
    // load first drops the cache the previous one built
    val dataDir = opt("data")
    val days = if (name == "contract_slate") Fixture.Contract else Fixture.Live
    val loads = mutable.ArrayBuffer[(Double, Fixture)]()
    for (_ <- 1 to 3) {
      loads.lastOption.foreach(_._2.ticks.unpersist(blocking = true))
      val t0 = Jvm.nowMs
      val f = Fixture.load(spark, dataDir, days, need(name))
      loads += (((Jvm.nowMs - t0) / 1000.0, f))
    }
    val fixture = loads.last._2
    val loadS = Stats.median(loads.map(_._1).toSeq)
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, seconds, nproc, workDir, fixture, opt("slate"))

    val r0 = Jvm.nowMs
    val o = wl.run(ctx)
    val runS = (Jvm.nowMs - r0) / 1000.0
    val setupS = sessionS + loadS + o.warmupS
    val ops = o.opSpans
    val perOp = math.max(o.ops, 1).toDouble
    def latency(q: Double) =
      if (o.latenciesMs.isEmpty) Double.NaN else Stats.quantile(o.latenciesMs, q)
    val endToEnd = Map(
      "setup_s" -> setupS, "latency_p50_ms" -> latency(0.5), "events_per_s" -> o.eventsPerS)
    val w = o.opWork
    val opWallMs = ops.map(_.ms).sum
    val layers: Map[String, (Double, String)] = if (!trace) Map.empty else Map(
      "jobs_per_op" -> (w.jobs / perOp, "count"),
      "stages_per_op" -> (w.stages / perOp, "count"),
      "tasks_per_op" -> (w.tasks / perOp, "count"),
      "task_run_ms_per_op" -> (w.taskRunMs / perOp, "ms"),
      "task_cpu_ms_per_op" -> (w.taskCpuNs / 1e6 / perOp, "ms"),
      "task_cpu_ms_per_event" -> (w.taskCpuNs / 1e6 / math.max(o.events, 1L), "ms"),
      "gc_ms_per_op" -> (o.gcMs / perOp, "ms"),
      "planning_ms_per_op" -> (o.planningMs / perOp, "ms"),
      "outside_jobs_ms_per_op" -> (ops.map(s => s.ms - w.coveredMs(s.startMs, s.endMs)).sum / perOp, "ms"),
      "core_busy_share" -> (w.taskRunMs / math.max(opWallMs * nproc, 1e-9), "share"),
      "self_ms_per_op" -> (o.selfMs / perOp, "ms"),
      "sink_ms_per_op" -> (o.sinkMs / perOp, "ms"),
      "shuffle_read_bytes_per_op" -> (w.shuffleReadBytes / perOp, "bytes"),
      "shuffle_write_bytes_per_op" -> (w.shuffleWriteBytes / perOp, "bytes"),
      "spill_bytes_per_op" -> (w.spillBytes / perOp, "bytes"))

    // traced extras: single-core baseline (keyed_state) and tracing overhead
    var extra = Map[String, Any]()
    if (trace) {
      val prior = Paths.get(s"$out/$name-seed$seed-trace0.json")
      if (Files.exists(prior)) {
        val txt = Files.readString(prior)
        val m = "\"latency_p50_ms\": \\{\"value\": ([0-9.eE+-]+)".r.findFirstMatchIn(txt)
        m.foreach(x => extra += "tracing_overhead_latency_p50" ->
          (endToEnd("latency_p50_ms") / x.group(1).toDouble - 1.0))
      }
      if (name == "keyed_state") {
        spark.stop()
        spark = session(1, workDir)
        val f1 = Fixture.load(spark, dataDir, days, need(name))
        val one = KeyedState.run(Ctx(spark, new Tracer(spark, false), seed, seconds, 1,
          s"$workDir/local1", f1, opt("slate")))
        extra += "local1.events_per_s" -> one.eventsPerS
        extra += "local1.correct" -> one.correct
        extra += s"local$nproc.events_per_s" -> endToEnd("events_per_s")
      }
    }

    val metrics = if (trace) layers else endToEnd.map { case (k, v) =>
      k -> (v, EndToEndUnits.toMap.apply(k)) }
    val failed = o.failed
    val correct = o.correct && failed == 0 && metrics.values.forall(v => !v._1.isNaN)
    val artifact = Map(
      "run" -> runId, "workload" -> name, "why" -> wl.why, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace, "nproc" -> nproc,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "commit" -> opts.getOrElse("commit", "unknown"),
      "fixture" -> Map("path" -> "perfbench/data/events.parquet", "source" -> "sf0.1 events table",
        "bytes" -> fixture.bytes, "rows" -> fixture.rows, "days" -> fixture.days,
        "event_time_compression" -> Fixture.Contract / fixture.days),
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> failed,
      "failed_ops" -> failed.toDouble / math.max(o.attempted, 1), "failures" -> o.failures,
      "setup" -> Map("session_s" -> sessionS, "fixture_loads_s" -> loads.map(_._1).toSeq,
        "fixture_load_s" -> loadS, "workload_s" -> runS,
        "warmup_s" -> o.warmupS),
      "latency_p90_ms" -> latency(0.9), "peak_rss_mb" -> Jvm.peakRssMb, "timed_ms" -> o.timedMs, "ops" -> o.ops, "events" -> o.events,
      "end_to_end" -> endToEnd.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> EndToEndUnits.toMap.apply(k)) },
      "workload_metrics" -> o.named.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u,
        "moves" -> LayerTargets(k)._1, "on" -> LayerTargets(k)._2) },
      "layer_detail" -> o.detail,
      "traced_extra" -> extra)
    Files.writeString(Paths.get(s"$out/$runId.json"), Json.write(artifact) + "\n")
    if (trace) Files.writeString(Paths.get(s"$out/$runId-spans.json"),
      Json.write(tracer.spansJson) + "\n")

    spark.stop()
    Jvm.deleteTree(new java.io.File(workDir))

    o.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(f"workload $name seed $seed: attempted ${o.attempted}, failed $failed, " +
      f"ops ${o.ops}, events ${o.events}, timed ${o.timedMs / 1000}%.2f s")
    for ((k, u) <- EndToEndUnits) println(f"  $k%-28s ${endToEnd(k)}%14.4f $u")
    println(f"  ${"failed_ops"}%-28s ${failed.toDouble / math.max(o.attempted, 1)}%14.4f share")
    println(f"  ${"latency_p90_ms"}%-28s ${latency(0.9)}%14.4f ms")
    println(f"  ${"peak_rss_mb"}%-28s ${Jvm.peakRssMb}%14.4f MiB")
    for ((k, v, u) <- o.named) println(f"  $k%-28s $v%14.4f $u")
    for ((k, (v, u)) <- layers.toSeq.sortBy(_._1)) println(f"  layer $k%-22s $v%14.4f $u")
    for ((k, v) <- (o.detail ++ extra).toSeq.sortBy(_._1) if v.isInstanceOf[Number] || v.isInstanceOf[Boolean])
      println(s"  detail $k = $v")
    println(Json.write(Map("correct" -> correct, "attempted" -> o.attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
