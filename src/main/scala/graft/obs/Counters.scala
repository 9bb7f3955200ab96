package graft.obs

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge

/** Spark work between two points, in the terms of the MapReduce cost
  * model: jobs and stages are its rounds, shuffle-write bytes its
  * communication, input records/bytes what scans and cached-block
  * reads took in, and spill what memory pressure pushed to disk.
  * Stage figures are summed at stage completion, so a re-used
  * exchange is billed once. */
final case class Counts(jobs: Long, stages: Long, shuffleWriteBytes: Long,
    inputRecords: Long, inputBytes: Long, memorySpilled: Long, diskSpilled: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    shuffleWriteBytes - o.shuffleWriteBytes, inputRecords - o.inputRecords,
    inputBytes - o.inputBytes, memorySpilled - o.memorySpilled,
    diskSpilled - o.diskSpilled)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0)
}

/** A window on a session's listener bus.  Events are delivered
  * asynchronously, so the bus is drained before the window's
  * listener registers (a prior job's still-queued events are not
  * billed to it) and again before every read (its body's events have
  * all arrived).  [[cut]] splits the window into consecutive
  * readings, e.g. one per layer of a composed pipeline.
  *
  * {{{
  * val (n, c) = Counters.of(spark) { df.count() }   // c.jobs, c.stages, …
  * }}}
  */
final class Counters private (spark: SparkSession) extends AutoCloseable {
  private val jobs, stages, shuffle, inRecords, inBytes, memSpill, diskSpill =
    new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stages.incrementAndGet()
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }

  private var mark = Counts.zero

  /** Everything since the window opened. */
  def read(): Counts = {
    Bridge.drainListenerBus(spark)
    Counts(jobs.get, stages.get, shuffle.get, inRecords.get, inBytes.get,
      memSpill.get, diskSpill.get)
  }

  /** Everything since the previous cut (or the window's start). */
  def cut(): Counts = {
    val now = read()
    val d = now - mark
    mark = now
    d
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Counters {
  /** Open a window; [[Counters.close]] it when done. */
  def open(spark: SparkSession): Counters = {
    val c = new Counters(spark)
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(c.listener)
    c
  }

  /** `body`'s result and the work it ran. */
  def of[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val c = open(spark)
    try {
      val r = body
      (r, c.read())
    } finally c.close()
  }
}
