package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval on the `System.nanoTime` clock. `parent` is the id
  * of the enclosing span (0 for a request).
  */
final case class Span(id: Long, req: Long, kind: String, name: String,
    start: Long, end: Long, parent: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** Spark-side work of one request, filled from the listeners. */
final class SparkCounts {
  var jobs, stages, tasks, tasksFailed, stagesRetried = 0L
  var planMs, schedDelayMs, runMs, cpuMs, gcMs, codegenMs = 0.0
  var codegenCompiles = 0L
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes,
    outputBytes = 0L
}

/** Listens to the scheduler and to query executions, and attributes
  * every job, stage, task and planned query to a request: the request
  * id travels as a local property, which threads that graft spawns for
  * parallel jobs inherit. `open` is the fallback for jobs without it.
  * Requests run one at a time and the bus is drained before one
  * closes, so nothing lands on the wrong request.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private val offsetNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanosOf(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  @volatile var open: Long = -1L
  @volatile var jobsStarted: Long = 0L

  val counts = mutable.Map.empty[Long, SparkCounts]
  val jobSpans = mutable.ArrayBuffer.empty[Span]
  /** max/median task time of each finished traced stage. */
  val stageSkews = mutable.ArrayBuffer.empty[Double]

  private val stageReq = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def of(req: Long): SparkCounts =
    counts.getOrElseUpdate(req, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val req = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.RequestProperty)))
      .map(_.toLong).getOrElse(open)
    if (req >= 0) {
      of(req).jobs += 1
      e.stageIds.foreach(s => stageReq(s) = req)
      jobStart(e.jobId) = (req, nanosOf(e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (req, t0) =>
      jobSpans += Span(Trace.nextId(), req, "job", s"job-${e.jobId}", t0,
        math.max(t0, nanosOf(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageReq.get(si.stageId).foreach { req =>
        val c = of(req)
        c.stages += 1
        if (si.attemptNumber() > 0) c.stagesRetried += 1
        taskMs.remove((si.stageId, si.attemptNumber())).foreach { ts =>
          val s = ts.sorted
          val med = s(s.length / 2)
          if (med > 0) stageSkews += s.last.toDouble / med
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageReq.get(e.stageId).foreach { req =>
      val c = of(req)
      c.tasks += 1
      if (!e.taskInfo.successful) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        c.schedDelayMs += math.max(0L,
          info.duration - m.executorRunTime - overhead - info.gettingResultTime)
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += info.duration
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (open >= 0) {
      val phases = qe.tracker.phases
      of(open).planMs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** The benchmark's tracer. With tracing off it only runs the thunks;
  * with tracing on it records a span per request, module call,
  * materializing action and memo lookup (jobs come from [[Collector]]),
  * keeps them in memory, and summarizes them once at the end.
  */
final class Trace(sc: SparkContext, val collector: Collector) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val memoCalls = mutable.ArrayBuffer.empty[(String, Boolean)]
  private var req: Long = -1L
  private var reqStart: Long = 0L
  private var codegen0: (Long, Long) = (0L, 0L)

  def tracing: Boolean = req >= 0

  private def codegenNow: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Open a traced request: all Spark work until [[end]] is its own. */
  def begin(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    req = Trace.nextId()
    sc.setLocalProperty(Trace.RequestProperty, req.toString)
    collector.open = req
    codegen0 = codegenNow
    reqStart = System.nanoTime()
  }

  def end(name: String): Unit = if (tracing) {
    val t1 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(sc)
    val (ct, cn) = codegenNow
    collector.synchronized {
      val c = collector.counts.getOrElseUpdate(req, new SparkCounts)
      c.codegenMs += (ct - codegen0._1) / 1e6
      c.codegenCompiles += cn - codegen0._2
    }
    spans += Span(req, req, "request", name, reqStart, t1)
    collector.open = -1L
    sc.setLocalProperty(Trace.RequestProperty, null)
    req = -1L
  }

  private def span[A](kind: String, name: String)(f: => A): A =
    if (!tracing) f
    else {
      val t0 = System.nanoTime()
      val r = f
      spans += Span(Trace.nextId(), req, kind, name, t0, System.nanoTime())
      r
    }

  /** A call into graft module `module`: plan building plus whatever
    * the call runs eagerly (checkpoints, collects, writes).
    */
  def call[A](module: String, name: String)(f: => A): A =
    span("call", s"$module:$name")(f)

  /** The action that materializes a returned plan. */
  def action[A](name: String)(f: => A): A = span("action", name)(f)

  /** A call into a memoized graft entry. Returns the value and whether
    * the call launched a Spark job (a miss). Counting is on in every
    * mode: the cold-build guard depends on it.
    */
  def memo[A](name: String)(f: => A): (A, Boolean) = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val before = collector.jobsStarted
    val r = span("memo", name)(f)
    org.apache.spark.perfbench.Bus.drain(sc)
    val launched = collector.jobsStarted > before
    if (tracing) memoCalls += ((name, !launched))
    (r, launched)
  }

  /** Every span, jobs included, with parents resolved by containment:
    * a span's parent is the innermost benchmark span of its request open
    * at its start (a job's end is only known to the millisecond).
    */
  def allSpans: Seq[Span] = {
    val inner = spans.filter(_.kind != "request").groupBy(_.req)
    def parentOf(s: Span): Long =
      inner.getOrElse(s.req, Nil)
        .filter(p => p.id != s.id && p.start <= s.start && s.start <= p.end &&
          (s.kind == "job" || s.end <= p.end))
        .sortBy(p => p.end - p.start).headOption.map(_.id).getOrElse(s.req)
    val jobs = collector.synchronized(collector.jobSpans.toList)
    spans.toList.map(s => if (s.kind == "request") s else s.copy(parent = parentOf(s))) ++
      jobs.map(j => j.copy(parent = parentOf(j)))
  }

  /** Per-layer metrics over the traced requests. Spark counters are
    * per-request means; module call and action times are per-call
    * means; task skew is the median over stages.
    */
  def layerMetrics(modules: Seq[String]): Seq[(String, Double, String)] = {
    val reqs = spans.filter(_.kind == "request")
    val n = math.max(1, reqs.size).toDouble
    val cs = collector.synchronized(reqs.map(r =>
      collector.counts.getOrElse(r.id, new SparkCounts)).toList)
    def per(f: SparkCounts => Double): Double = cs.map(f).sum / n
    val jobsByReq = collector.synchronized(collector.jobSpans.toList).groupBy(_.req)
    val driverSelf = reqs.map { r =>
      r.ms - Stats.coveredMs(jobsByReq.getOrElse(r.id, Nil)
        .map(j => (math.max(j.start, r.start), math.min(j.end, r.end))))
    }
    val calls = spans.filter(_.kind == "call")
    val moduleMetrics = modules.flatMap { m =>
      val mc = calls.filter(_.name.startsWith(m + ":"))
      Seq((s"$m.calls", mc.size.toDouble, "count"),
        (s"$m.call_ms", Stats.mean(mc.map(_.ms).toSeq), "ms"))
    }
    val actions = spans.filter(_.kind == "action").map(_.ms).toSeq
    val hits = memoCalls.count(_._2)
    val skews = collector.synchronized(collector.stageSkews.toList)
    moduleMetrics ++ Seq(
      ("action_ms", Stats.mean(actions), "ms"),
      ("memo.hit_ratio",
        if (memoCalls.isEmpty) 0.0 else hits.toDouble / memoCalls.size, "ratio"),
      ("spark.plan_ms", per(_.planMs), "ms"),
      ("spark.codegen_ms", per(_.codegenMs), "ms"),
      ("spark.codegen_compiles", per(_.codegenCompiles.toDouble), "count"),
      ("spark.jobs", per(_.jobs.toDouble), "count"),
      ("spark.stages", per(_.stages.toDouble), "count"),
      ("spark.tasks", per(_.tasks.toDouble), "count"),
      ("spark.sched_delay_ms", per(_.schedDelayMs), "ms"),
      ("spark.exec_run_ms", per(_.runMs), "ms"),
      ("spark.exec_cpu_ms", per(_.cpuMs), "ms"),
      ("spark.gc_ms", per(_.gcMs), "ms"),
      ("spark.scan_bytes", per(_.scanBytes.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", per(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", per(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.spill_bytes", per(_.spillBytes.toDouble), "bytes"),
      ("spark.output_bytes", per(_.outputBytes.toDouble), "bytes"),
      ("spark.task_skew", Stats.median(skews), "ratio"),
      ("spark.driver_self_ms", Stats.mean(driverSelf.toSeq), "ms"),
      ("spark.tasks_failed", per(_.tasksFailed.toDouble), "count"),
      ("spark.stages_retried", per(_.stagesRetried.toDouble), "count"))
  }
}

object Trace {
  val RequestProperty = "perfbench.request"
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextId(): Long = ids.incrementAndGet()

  def spansJson(spans: Seq[Span]): String =
    Main.json(spans.sortBy(s => (s.start, s.id)).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "request" -> s.req,
        "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end)
    })
}
