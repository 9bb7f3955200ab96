package graft.perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** State shared by a run's workloads: the session, the seeded inputs,
  * the tracer, and the operation/failure ledger behind `attempted` and
  * `failed`. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val trace: Trace) {
  val inputs = new Inputs(spark, seed, work)
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Seconds per call, by operation name. */
  val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall and CPU nanoseconds spent checking outputs: the benchmark's
    * own work, subtracted from the pass it happens in. */
  var checkNs = 0L
  var checkCpuNs = 0L

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** One closed-loop operation: counted as attempted, failed when it
    * throws or when `check` returns a complaint.  The check's own time
    * is excluded from the pass. */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case e: Exception =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
    opSeconds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    out.flatMap { v =>
      val bad = offClock(check(v))
      bad.foreach(b => fail(s"$name: $b".take(500)))
      if (bad.isEmpty) Some(v) else None
    }
  }

  /** Run benchmark-side work (checks, directory walks) off the pass clock
    * and, in a traced pass, outside every span. */
  def offClock[T](body: => T): T = {
    val t0 = System.nanoTime(); val c0 = cpuNs()
    try trace.suspended(body)
    finally { checkNs += System.nanoTime() - t0; checkCpuNs += cpuNs() - c0 }
  }

  /** Release cached blocks between passes, as a long-lived session must. */
  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

object Ctx {
  /** Rows as type-tagged strings for the oracle comparison, so an
    * integral double stays a double on the way through JSON. */
  def taggedRows(cols: Seq[String], rows: Seq[Row]): Map[String, Any] =
    ListMap("columns" -> cols,
      "rows" -> rows.map(r => (0 until r.length).map(i => cell(r.get(i)))))

  private def cell(v: Any): String = v match {
    case null => null
    case d: Double => "d:" + java.lang.Double.toString(d)
    case f: Float => "d:" + java.lang.Double.toString(f.toDouble)
    case l: Long => "i:" + l
    case i: Int => "i:" + i
    case s: Short => "i:" + s
    case b: java.math.BigDecimal => "n:" + b.toPlainString
    case other => "s:" + other.toString
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample (0 when it is empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
