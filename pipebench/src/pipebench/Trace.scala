package pipebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Module a stack frame belongs to: `graft.<pkg>.X` → `<pkg>`,
  * `graft.Pipeline` → `pipeline`, the benchmark's own code → `bench`.
  */
object Modules {
  val names: Seq[String] = Seq("pipeline", "sources", "operators", "sinks", "meta",
    "gold", "text", "dedup", "streaming", "functions", "core", "bench", "other")

  def of(className: String): Option[String] =
    if (className.startsWith("pipebench.")) Some("bench")
    else if (className.startsWith("graft.")) {
      val rest = className.stripPrefix("graft.")
      val seg = rest.takeWhile(_ != '.')
      if (rest.contains('.') && seg.nonEmpty && seg.head.isLower) Some(seg)
      else Some("pipeline") // top-level classes: Pipeline and the mains
    } else None

  /** Module of the innermost graft/benchmark frame of a call-site long form
    * (one `class.method(File.scala:n)` per line, Spark's frame on top).
    */
  def ofCallSite(longForm: String): String =
    longForm.linesIterator.map(_.trim.takeWhile(_ != '('))
      .map(m => m.take(math.max(0, m.lastIndexOf('.'))))
      .flatMap(of).nextOption().getOrElse("other")
}

/** Codegen channel taken from the engine's own log events: every
  * `Code generated in X ms` (compile time) and every whole-stage compile
  * failure that falls back to interpreted execution. The two loggers are
  * routed to this appender only, so nothing extra reaches the console.
  */
final class CodegenTap extends AbstractAppender("pipebench-codegen", null, null,
    true, Property.EMPTY_ARRAY) {
  val compileNanos = new AtomicLong
  val failures = new AtomicLong
  val failureSites = mutable.ArrayBuffer.empty[String]
  private val generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = String.valueOf(e.getMessage.getFormattedMessage)
    msg match {
      case generated(ms) =>
        compileNanos.addAndGet((ms.toDouble * 1e6).toLong): Unit
      case _ if e.getLevel.isMoreSpecificThan(Level.WARN) &&
          e.getLoggerName.endsWith("CodeGenerator") &&
          msg.toLowerCase.contains("failed to compile") =>
        failures.incrementAndGet()
        // the compile runs on the thread that plans the failing stage: its
        // innermost engine frame is the call site of the fallback
        val site = Thread.currentThread.getStackTrace.find(f =>
          f.getClassName.startsWith("graft.")).map(f => s"${f.getFileName}:${f.getLineNumber}")
        failureSites.synchronized(failureSites += site.getOrElse("?")): Unit
      case _ =>
    }
  }
}

object CodegenTap {
  private val loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  def install(): CodegenTap = {
    val tap = new CodegenTap
    tap.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.addAppender(tap)
    loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(tap, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    tap
  }
}

/** Per-op listener totals. Times in ms unless named otherwise. */
final class OpStats {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L
  var planMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val moduleJobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val moduleJobMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** Jobs per module, for each streaming micro-batch (drain) by batch id. */
  val drainJobs = mutable.HashMap.empty[Long, mutable.Map[String, Int]]
  /** `StreamingQueryProgress.durationMs` (and `batchId`) of each drain with work. */
  val drainDurations = mutable.ArrayBuffer.empty[Map[String, Long]]
  var streamStartMs = 0L
}

/** One listener set for all three Spark channels: job/stage/task events,
  * per-action planning phases, and streaming progress. Started and stopped
  * around each traced op; every callback runs on a listener-bus thread.
  */
final class Collector(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var cur = new OpStats
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  // module of each SQL execution's action, for jobs that run on a pool
  // thread (broadcasts, subqueries) whose own call site is not the caller
  private val execModule = mutable.HashMap.empty[Long, String]
  private val lastEvent = new AtomicLong(System.nanoTime())
  private val openJobs = new AtomicLong

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch {
      if (cur.streamStartMs == 0L) cur.streamStartMs = System.currentTimeMillis()
    }
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = touch {
      val d = e.progress.durationMs
      val m = mutable.Map.empty[String, Long]
      d.forEach((k, v) => m(k) = v.longValue)
      if (e.progress.numInputRows > 0 || m.getOrElse("addBatch", 0L) > 0L)
        cur.drainDurations += (m.toMap + ("batchId" -> e.progress.batchId))
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch(())
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private def touch(f: => Unit): Unit = synchronized {
    f
    lastEvent.set(System.nanoTime())
  }

  def begin(): Unit = synchronized { cur = new OpStats; jobStart.clear(); execModule.clear() }
  def end(): OpStats = synchronized(cur)

  /** Waits (outside any timed window) until every started job has ended
    * and no event arrived for 150 ms, so an op's events are all counted.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
        (openJobs.get > 0 || System.nanoTime() - lastEvent.get < 150000000L))
      Thread.sleep(20)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = touch {
    openJobs.incrementAndGet()
    val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val own = Modules.ofCallSite(site)
    val module =
      if (own != "other") own
      else Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong)).getOrElse(own)
    jobStart(js.jobId) = (js.time, module)
    cur.jobs += 1
    Option(js.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach { id =>
        cur.drainJobs.getOrElseUpdate(id.toLong,
          mutable.HashMap.empty[String, Int].withDefaultValue(0))(module) += 1
      }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart => touch {
      execModule(e.executionId) = Modules.ofCallSite(e.details)
    }
    case _ =>
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = touch {
    openJobs.decrementAndGet()
    jobStart.remove(je.jobId).foreach { case (t0, module) =>
      cur.jobIntervals += ((t0, je.time))
      cur.moduleJobs(module) += 1
      cur.moduleJobMs(module) += math.max(0L, je.time - t0)
    }
  }

  // only stages that run are submitted; skipped ones (shuffle reuse) are not
  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = touch {
    cur.stages += 1
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = touch {
    val m = te.taskMetrics
    cur.tasks += 1
    if (m != null) {
      cur.taskMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    touch(planned(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    touch(planned(qe))

  private def planned(qe: QueryExecution): Unit =
    cur.planMs += qe.tracker.phases.values.map(_.durationMs).sum
}

/** Union length of possibly overlapping [start, end) intervals. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One recorded span: `trace` is the op it belongs to, `parent` the
  * enclosing span (the op itself for outermost entry spans).
  */
final case class Span(trace: Int, name: String, startNs: Long, endNs: Long, parent: String) {
  def json: String =
    s"""{"trace": $trace, "name": "$name", "start_ns": $startNs, "end_ns": $endNs, """ +
      s""""parent": "$parent"}"""
}

object SpanSampler {
  /** Spans reported per job op, and those only the curate probe enters. */
  val opSpans: Seq[String] = Seq("sources.extract", "operators.transform", "sinks.load",
    "meta.ledger")
  val probeSpans: Seq[String] = Seq("text.curation", "sinks.tar_pack")
}

/** Spans around module entry points, taken by sampling the driver threads'
  * stacks (the main thread, or a streaming query's execution thread while
  * one runs) every `periodMs`: a span opens at the first sample that has
  * the entry method on the stack and closes at the first that has not. A
  * module's self time is the time its frame is the innermost engine frame.
  * Spans stay in memory until the run writes them out.
  */
final class SpanSampler(main: Thread, periodMs: Long = 2L) {
  private val entries: Seq[(String, String, String)] = Seq(
    ("sources.extract", "graft.sources.Readers$", "extract"),
    ("operators.transform", "graft.operators.TransformPipeline$", "runWithStats"),
    ("sinks.load", "graft.sinks.Writers$", "load"),
    ("meta.ledger", "graft.meta.JobLedger", "startJob"),
    ("meta.ledger", "graft.meta.JobLedger", "completeJob"),
    ("text.curation", "graft.text.Curation$", "run"),
    ("sinks.tar_pack", "graft.sources.TarShards$", "pack"))

  val spans = mutable.ArrayBuffer.empty[Span]
  private val selfTicks = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val open = mutable.LinkedHashMap.empty[String, (Long, String)]
  @volatile private var running = false
  private var thread: Thread = _
  private var ticks = 0L
  private var trace = 0
  private var opName = ""
  private var opStart = 0L

  private def streamThreads(): Seq[Thread] = {
    val all = new Array[Thread](Thread.activeCount() * 2 + 16)
    val n = Thread.enumerate(all)
    all.take(n).filter(t => t.getName.startsWith("stream execution thread")).toSeq
  }

  private def sample(): Unit = {
    val now = System.nanoTime()
    val streams = streamThreads()
    val stack = streams.iterator.map(_.getStackTrace)
      .find(_.exists(f => Modules.of(f.getClassName).exists(_ != "bench")))
      .getOrElse(main.getStackTrace)
    stack.iterator.flatMap(f => Modules.of(f.getClassName)).nextOption()
      .foreach(m => selfTicks(m) += 1)
    // outermost first; the entry call that started a stream sits on the
    // main thread's stack, below the stream thread's frames
    val frames = (stack ++ (if (streams.nonEmpty) main.getStackTrace else Array.empty)).reverse
    val active = frames.iterator.flatMap(f =>
      entries.find(e => e._2 == f.getClassName && e._3 == f.getMethodName).map(_._1))
      .toSeq.distinct
    open.keys.filterNot(active.contains).toSeq.foreach(close(_, now))
    active.zipWithIndex.foreach { case (s, i) =>
      if (!open.contains(s)) open(s) = (now, if (i == 0) opName else active(i - 1))
    }
    ticks += 1
  }

  private def close(name: String, at: Long): Unit =
    open.remove(name).foreach { case (s, parent) => spans += Span(trace, name, s, at, parent) }

  /** Starts sampling op `traceId`, recorded as span `name`. */
  def start(traceId: Int, name: String): Unit = {
    selfTicks.clear(); ticks = 0L
    trace = traceId; opName = name; opStart = System.nanoTime()
    running = true
    thread = new Thread(() => {
      while (running) {
        sample()
        Thread.sleep(periodMs)
      }
    }, "pipebench-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stops sampling; returns each entry span's share of the op's wall and
    * each module's share of the self-time samples.
    */
  def stop(): (Map[String, Double], Map[String, Double]) = {
    running = false
    thread.join()
    val end = System.nanoTime()
    open.keys.toSeq.foreach(close(_, end))
    spans += Span(trace, opName, opStart, end, "")
    val wall = math.max(1L, end - opStart).toDouble
    val mine = spans.filter(s => s.trace == trace && s.parent.nonEmpty)
    val n = math.max(1L, ticks).toDouble
    (entries.map(_._1).distinct.map(s =>
      s -> mine.filter(_.name == s).map(x => x.endNs - x.startNs).sum / wall).toMap,
      Modules.names.map(m => m -> selfTicks(m) / n).toMap)
  }
}
