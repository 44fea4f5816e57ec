package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `contract_slate`: contract queries through `SparkEntry.queries`, with
  * no streaming code on the path. Each query is forced by an
  * order-insensitive fingerprint over all its columns ([[Print]]) and
  * checked against the expected fingerprint in `slate.tsv`, recorded from
  * outputs the DuckDB oracle graded exact (see `RecordSlate`). A pass runs
  * the slate once in a seeded order; after two untimed warm-up passes,
  * passes repeat while the timed phase lasts, at least [[MinPasses]]
  * times. A query's time is its median over the passes, so one slow run
  * of a query does not move the pass it fell in. */
object ContractSlate {
  val MinPasses = 3
  /** Eager in-body work (driver collects and pair kernels built before
    * the final action) is most of the wall time. */
  val Eager: Seq[String] = Seq("kendall_tau", "corr_matrix")
  /** Planning and per-job scheduling dominate: the two ends of the
    * strategy pipeline's contract forms, then two sub-0.5 s tick queries. */
  val Short: Seq[String] = Seq("sma_signals", "metrics_5m", "spread_stats", "rsi")
  def group(name: String): String = if (Eager.contains(name)) "eager" else "short"

  /** Expected fingerprint per query, from `slate.tsv`. */
  def expected(file: String): Map[String, Print] = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(name, _, rows, h1, h2) = l.split("\t")
      name -> Print(rows.toLong, BigDecimal(h1), BigDecimal(h2))
    }.toMap
    finally src.close()
  }

  /** One query: the body call that returns the frame, then the forcing
    * action. Returns (body ms, action ms, fingerprint). */
  def runOne(spark: SparkSession, tracer: Tracer, dir: String, name: String): (Double, Double, Print) = {
    spark.catalog.clearCache()
    tracer.span(s"query.$name", "op") {
      val t0 = Jvm.nowMs
      val df = tracer.span(s"SparkEntry.queries($name)", "body")(SparkEntry.queries(name)(spark, dir))
      val t1 = Jvm.nowMs
      val p = tracer.span(s"action.$name", "action")(Print.of(df))
      (t1 - t0, Jvm.nowMs - t1, p)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.fixture.dir
    val want = expected(ctx.slateFile)
    val slate = Eager ++ Short
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    def attempt(name: String): Option[(Double, Double)] = {
      attempted += 1
      try {
        val (body, action, got) = runOne(spark, ctx.tracer, dir, name)
        want.get(name) match {
          case Some(e) if e == got => Some((body, action))
          case Some(e) => failed += 1; failures += s"$name: got $got, expected $e"; None
          case None => failed += 1; failures += s"$name: no expected fingerprint"; None
        }
      } catch { case e: Exception => failed += 1; failures += s"$name threw: $e"; None }
    }

    // two untimed passes: the first compiles every query's plans, the
    // second lets the JIT settle before timing
    val w0 = Jvm.nowMs
    for (_ <- 1 to 2) slate.foreach(attempt)
    val warmupS = (Jvm.nowMs - w0) / 1000.0
    val warmSpans = ctx.tracer.spans.size

    val rnd = new scala.util.Random(ctx.seed)
    val samples = mutable.ArrayBuffer[(Int, String, Double, Double)]()
    val gc0 = Jvm.gcMs
    val start = Jvm.nowMs
    var pass = 0
    while (pass < MinPasses || Jvm.nowMs - start < ctx.seconds * 1000.0) {
      for (name <- rnd.shuffle(slate); (body, action) <- attempt(name))
        samples += ((pass, name, body, action))
      pass += 1
    }
    val timedMs = Jvm.nowMs - start
    val gcMs = Jvm.gcMs - gc0

    ctx.tracer.drain()
    val ops = ctx.tracer.spans.drop(warmSpans).filter(_.kind == "op").toSeq
    val work = new Work
    var planning = 0.0; var body = 0.0; var action = 0.0
    val perQuery = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
    for (op <- ops) {
      val name = op.name.stripPrefix("query.")
      val kids = ctx.tracer.children(op.id)
      val b = kids.find(_.kind == "body"); val a = kids.find(_.kind == "action")
      val wk = ctx.tracer.workOf(op)
      val bw = b.fold(new Work)(ctx.tracer.workOf); val aw = a.fold(new Work)(ctx.tracer.workOf)
      val pl = ctx.tracer.planningMsOf(op)
      work.add(wk); planning += pl
      body += b.fold(0.0)(_.ms); action += a.fold(0.0)(_.ms)
      val m = perQuery.getOrElseUpdate(name, mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0))
      val add = Seq(
        "runs" -> 1.0, "wall_ms" -> op.ms, "body_ms" -> b.fold(0.0)(_.ms), "body_jobs" -> bw.jobs.toDouble,
        "action_ms" -> a.fold(0.0)(_.ms), "action_jobs" -> aw.jobs.toDouble, "planning_ms" -> pl,
        "stages" -> wk.stages.toDouble, "tasks" -> wk.tasks.toDouble,
        "task_run_ms" -> wk.taskRunMs.toDouble, "task_cpu_ms" -> wk.taskCpuNs / 1e6,
        "outside_jobs_ms" -> (op.ms - wk.coveredMs(op.startMs, op.endMs)),
        "shuffle_read_bytes" -> wk.shuffleReadBytes.toDouble,
        "shuffle_write_bytes" -> wk.shuffleWriteBytes.toDouble, "spill_bytes" -> wk.spillBytes.toDouble)
      add.foreach { case (k, v) => m(k) += v }
    }
    val queryDetail: Map[String, Any] = perQuery.map { case (n, m) =>
      val runs = m("runs")
      val avg = m.toMap.map { case (k, v) => k -> (if (k == "runs") v else v / runs) }
      n -> (avg + ("core_busy_share" -> avg("task_run_ms") / (avg("wall_ms") * ctx.nproc)) +
        ("group" -> group(n)))
    }.toMap
    val groupDetail: Map[String, Any] = Seq("eager", "short").map { g =>
      val qs = perQuery.filter(q => group(q._1) == g).values
      val passes = math.max(pass, 1).toDouble
      val keys = Seq("body_ms", "body_jobs", "action_ms", "action_jobs", "planning_ms", "stages",
        "tasks", "task_run_ms", "task_cpu_ms", "outside_jobs_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "wall_ms")
      g -> keys.map(k => k -> qs.map(_(k)).sum / passes).toMap
    }.toMap

    // a query's latency is its median over the passes; the workload's
    // latencies are those per-query medians, so its p50 does not hinge on
    // how many runs of a fast or a slow query the timed phase held
    val typicalMs = samples.groupBy(_._2).map { case (q, ss) =>
      q -> Stats.median(ss.map(s => s._3 + s._4).toSeq)
    }
    def groupS(g: String) = typicalMs.collect { case (q, ms) if group(q) == g => ms }.sum / 1000.0
    val passS = typicalMs.values.sum / 1000.0
    Outcome(attempted, failed, failed == 0, warmupS, timedMs, samples.size, ops,
      samples.size * ctx.fixture.rows, typicalMs.size * ctx.fixture.rows / passS,
      typicalMs.values.toSeq, gcMs, work, planning, body, action,
      named = Seq(
        ("eager_queries_s", groupS("eager"), "s"),
        ("short_queries_s", groupS("short"), "s"),
        ("passes", pass.toDouble, "count"),
        ("queries", samples.size.toDouble, "count")),
      detail = Map("slate.eager" -> Eager, "slate.short" -> Short, "query_ms" -> typicalMs,
        "queries" -> queryDetail, "groups" -> groupDetail),
      failures = failures.toSeq)
  }
}
