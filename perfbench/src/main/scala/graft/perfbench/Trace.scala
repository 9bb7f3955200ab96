package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around the
  * call.  Times are `System.nanoTime` readings; `parent` is the id of
  * the enclosing span (-1 for a root), `runId` names the pass. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = -1L) {
  /** Time spent in [[Trace.suspended]] benchmark work while this span was open. */
  var pausedNs = 0L
  def seconds: Double = (endNs - startNs - pausedNs) / 1e9
}

/** Spark task counters summed over every job that ran under one span. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L      // executor run time
  var cpuNs = 0L      // executor CPU time
  var gcMs = 0L
  var schedDelayMs = 0L // task launch - stage submission, summed
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var memSpill = 0L
  var diskSpill = 0L
  var inputBytes = 0L

  def shuffleBytes: Long = shuffleWriteBytes
  def spillBytes: Long = memSpill + diskSpill

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runNs += o.runNs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleReadRecords += o.shuffleReadRecords
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    memSpill += o.memSpill; diskSpill += o.diskSpill; inputBytes += o.inputBytes
  }

  def toMap: Map[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_run_s" -> runNs / 1e9, "exec_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "sched_delay_s" -> schedDelayMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "mem_spill_bytes" -> memSpill, "disk_spill_bytes" -> diskSpill,
    "input_bytes" -> inputBytes)
}

/** Attributes every Spark job to the span that was current when it was
  * submitted.  Batch calls carry the span id in the `perfbench.span`
  * local property; a streaming query's micro-batch jobs run on the
  * query's own thread under its run id as job group, which
  * [[Trace.bindQuery]] maps to the span that drives the query. */
final class SpanListener(trace: Trace) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  val bySpan = mutable.HashMap.empty[Int, SparkCounters]

  private def counters(span: Int): SparkCounters =
    bySpan.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toInt)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(trace.spanOfGroup(_)))
      .getOrElse(-1)
    counters(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    counters(stageSpan.getOrElse(id, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    stageSubmitMs.get(e.stageId).foreach { s =>
      c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.runNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.memSpill += m.memoryBytesSpilled
      c.diskSpill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** The traced run's collector: spans kept in memory, Spark counters per
  * span, WARN-and-above log lines per span, and a directory walker.
  * Only a traced pass turns it on; otherwise every method is a
  * pass-through, so untraced passes pay nothing for it. */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Int] = Nil
  private var runId = ""
  private val groups = mutable.HashMap.empty[String, Int]
  val listener = new SpanListener(this)
  /** WARN+ log lines per span id; -1 collects lines outside any span. */
  val warnLines = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  @volatile private var current = -1
  @volatile private var active = false
  private var logCounterInstalled = false

  /** Start tracing a run: spans, the listener and the log counter. */
  def activate(id: String): Unit = {
    runId = id
    if (!logCounterInstalled) {
      LogCounter.install(() => if (active) {
        warnLines.computeIfAbsent(current, _ => new AtomicLong).incrementAndGet()
      })
      logCounterInstalled = true
    }
    sc.addSparkListener(listener)
    active = true
  }

  /** Stop tracing; waits for the listener bus so counters are complete. */
  def deactivate(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark)
    sc.removeSparkListener(listener)
    active = false
  }

  def spanOfGroup(group: String): Option[Int] = synchronized(groups.get(group))

  /** Run benchmark-side work (an output check, a directory walk) outside
    * every span: the jobs it submits and the WARN lines it logs are
    * charged to no span, and its time is taken out of the spans it
    * interrupts.  The driver thread's attribution is restored after. */
  def suspended[T](body: => T): T =
    if (!active) body
    else {
      val saved = Trace.AttributionProps.map(p => p -> sc.getLocalProperty(p))
      val open = stack
      val cur = current
      Trace.AttributionProps.foreach(sc.setLocalProperty(_, null))
      current = -1
      val t0 = System.nanoTime()
      try body
      finally {
        val d = System.nanoTime() - t0
        open.foreach(id => spans(id).pausedNs += d)
        saved.foreach { case (p, v) => sc.setLocalProperty(p, v) }
        current = cur
      }
    }

  /** Jobs charged to no span so far (the listener bus drained first). */
  def unspannedJobs(spark: org.apache.spark.sql.SparkSession): Long = {
    org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark)
    listener.synchronized(listener.bySpan.get(-1).map(_.jobs).getOrElse(0L))
  }

  /** Streaming jobs run under the query's run id; charge them to the
    * driver thread's current span (call again when the span changes). */
  def bindQuery(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (active) synchronized { groups(q.runId.toString) = stack.headOption.getOrElse(-1) }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      val s = synchronized {
        val sp = Span(spans.size, name, parent, runId, System.nanoTime())
        spans += sp
        sp
      }
      stack = s.id :: stack
      current = s.id
      sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
      sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = parent
        if (parent >= 0) {
          sc.setJobGroup(s"perfbench-$parent", spans(parent).name, interruptOnCancel = false)
          sc.setLocalProperty(Trace.SpanProperty, parent.toString)
        } else {
          sc.clearJobGroup()
          sc.setLocalProperty(Trace.SpanProperty, null)
        }
      }
    }

  /** Open a child of the driver thread's current span from another thread (a
    * streaming sink's foreachBatch): jobs submitted from the calling
    * thread are charged to it until [[closeOnThread]], which restores
    * the thread's previous attribution. */
  def openOnThread(name: String): Option[(Span, String)] =
    if (!active) None
    else synchronized {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), runId, System.nanoTime())
      spans += s
      val prev = sc.getLocalProperty(Trace.SpanProperty)
      sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
      current = s.id
      Some((s, prev))
    }

  def closeOnThread(opened: Option[(Span, String)]): Unit = opened.foreach { case (sp, prev) =>
    sp.endNs = System.nanoTime()
    sc.setLocalProperty(Trace.SpanProperty, prev)
    current = sp.parent
  }

  /** Span ids named `name` (optionally within one run). */
  def idsOf(name: String, run: String = runId): Seq[Int] =
    spans.iterator.filter(s => s.name == name && s.runId == run).map(_.id).toSeq

  def children(id: Int): Seq[Span] = spans.iterator.filter(_.parent == id).toSeq

  /** Span duration minus the time its child spans cover (a child's
    * paused time is already out of the parent's duration). */
  def selfSeconds(id: Int): Double = {
    val s = spans(id)
    val kids = children(id)
    var covered = -kids.map(_.pausedNs).sum; var until = Long.MinValue
    kids.map(k => (k.startNs, k.endNs)).sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, until)
      if (b > lo) { covered += b - lo; until = b }
    }
    s.seconds - covered / 1e9
  }

  /** Spark counters over the spans named `name` and all their descendants. */
  def countersOf(name: String, run: String = runId): SparkCounters = {
    val out = new SparkCounters
    val roots = idsOf(name, run).toSet
    def within(id: Int): Boolean =
      id >= 0 && (roots.contains(id) || within(spans(id).parent))
    listener.synchronized {
      listener.bySpan.foreach { case (id, c) => if (within(id)) out += c }
    }
    out
  }

  def warnsOf(name: String, run: String = runId): Long =
    idsOf(name, run).map(id => Option(warnLines.get(id)).map(_.get).getOrElse(0L)).sum

  def secondsOf(name: String, run: String = runId): Double =
    idsOf(name, run).map(spans(_).seconds).sum

  def spansRecord: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "paused_s" -> s.pausedNs / 1e9, "self_s" -> selfSeconds(s.id))
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  /** The thread-local properties that tie a job to a span: the span id
    * and the job group [[Trace.span]] sets. */
  val AttributionProps: Seq[String] = Seq(SpanProperty, "spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel")

  /** Files and bytes under a directory tree (0, 0 when it is absent). */
  def walk(dir: java.nio.file.Path): (Long, Long) = walkSince(dir, Long.MinValue)

  /** Files and bytes under a tree last modified at or after `sinceMs`:
    * what a pass wrote there, counting a rewritten file once. */
  def walkSince(dir: java.nio.file.Path, sinceMs: Long): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      var files = 0L; var bytes = 0L
      val it = java.nio.file.Files.walk(dir)
      try it.forEach { p =>
        try {
          if (java.nio.file.Files.isRegularFile(p) &&
              java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs) {
            files += 1
            bytes += java.nio.file.Files.size(p)
          }
        } catch { case _: java.io.IOException => () } // deleted while walking
      } finally it.close()
      (files, bytes)
    }
}

/** A log4j appender that counts WARN-and-above events.  Attached to the
  * root logger for the traced run, so events from every thread (task
  * threads included) are charged to the span current at the time. */
object LogCounter {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def install(onWarn: () => Unit): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-warn-counter", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) onWarn()
    }
    app.start()
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }
}
