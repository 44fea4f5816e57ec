package perfbench

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced call: `parent` is 0 for a root span. Times are wall-clock
  * epoch milliseconds (fractional), so they line up with listener events. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Double, var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one key (a span id, or a streaming query). */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; jobIntervals ++= o.jobIntervals
  }

  /** Milliseconds of [lo, hi] covered by at least one job. */
  def coveredMs(lo: Double, hi: Double): Double = {
    var covered = 0.0; var reach = lo
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      val a = math.max(s.toDouble, reach); val b = math.min(e.toDouble, hi)
      if (b > a) { covered += b - a; reach = b }
    }
    covered
  }
}

object Tracer {
  /** Local property carrying the innermost open span's id into every job
    * the driver thread submits. */
  val SpanKey = "perfbench.span"
  /** Local properties Spark sets on a streaming query's micro-batch jobs. */
  val StreamQueryKey = "sql.streaming.queryId"
  val StreamBatchKey = "streaming.sql.batchId"
}

/** Spans around the harness's calls into the program, plus Spark's own
  * listeners (`SparkListener`, `QueryExecutionListener`) attributing jobs,
  * stages, tasks and planning to those spans; a streaming query's
  * micro-batch jobs are attributed to the query and batch. Disabled, `span` only
  * runs its body: end-to-end metrics come from untraced runs. Spans stay
  * in memory until [[spansJson]] is written at exit. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val epochAtNano = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def now: Double = epochAtNano + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private val work = mutable.HashMap[String, Work]()
  private val jobKey = mutable.HashMap[Int, (String, Long)]()
  private val stageKey = mutable.HashMap[Int, String]()
  /** (phase start epoch ms, summed phase ms) per successful/failed action. */
  private val planning = mutable.ArrayBuffer[(Double, Double)]()

  private def w(key: String): Work = work.getOrElseUpdate(key, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop(SpanKey)
        .orElse(prop(StreamQueryKey).map(q => s"q:$q:${prop(StreamBatchKey).getOrElse("-1")}"))
        .getOrElse("none")
      jobKey(e.jobId) = (key, e.time)
      e.stageIds.foreach(stageKey(_) = key)
      w(key).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = work.synchronized {
      jobKey.remove(e.jobId).foreach { case (key, start) =>
        w(key).jobIntervals += ((start, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = work.synchronized {
      w(stageKey.getOrElse(e.stageInfo.stageId, "none")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      val m = e.taskMetrics
      val k = w(stageKey.getOrElse(e.stageId, "none"))
      k.tasks += 1
      if (m != null) {
        k.taskRunMs += m.executorRunTime
        k.taskCpuNs += m.executorCpuTime
        k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) planning.synchronized {
        planning += ((phases.map(_.startTimeMs).min.toDouble,
          phases.map(_.durationMs).sum.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span; jobs it submits from this thread carry the
    * span's id and name (as the job description). */
  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, kind, stack.headOption.fold(0)(_.id), now)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      sc.setJobDescription(name)
      try body
      finally {
        s.endMs = now
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        sc.setJobDescription(stack.headOption.map(_.name).orNull)
      }
    }

  /** Deliver every pending listener event; call before reading counts. */
  def drain(): Unit = if (enabled) BenchAccess.drainListeners(sc)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** Work of a span and all its descendants. */
  def workOf(s: Span): Work = work.synchronized {
    val acc = new Work
    subtree(s.id).foreach(i => work.get(i.toString).foreach(acc.add))
    acc
  }

  /** Work of a streaming query's micro-batches after batch `afterBatch`. */
  def workOfQuery(queryId: String, afterBatch: Long): Work = work.synchronized {
    val acc = new Work
    val prefix = s"q:$queryId:"
    work.foreach { case (k, wk) =>
      if (k.startsWith(prefix) && k.stripPrefix(prefix).toLong > afterBatch) acc.add(wk)
    }
    acc
  }

  /** Planning ms of actions whose planning started inside `s`. */
  def planningMsOf(s: Span): Double = planning.synchronized {
    planning.collect { case (st, ms) if st >= s.startMs - 1 && st <= s.endMs => ms }.sum
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "jobs" -> work.get(s.id.toString).fold(0L)(_.jobs)))
}
