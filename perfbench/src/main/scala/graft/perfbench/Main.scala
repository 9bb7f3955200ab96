package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark JVM's entry point; run.py starts one per run.
  *
  * Untraced (`--trace 0`): set up (session, three seeded generations of
  * the inputs compared byte for byte, load, warm-up passes), then
  * closed-loop passes of the workload for `--seconds`, every call's
  * output checked.  Reports set-up time and the median pass.
  *
  * Traced (`--trace 1`): set up once, warm up, then an untraced,
  * a traced and an untraced pass; reports the per-layer metrics of the
  * traced pass and the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  */
object Main {
  private val GenRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workload.names.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workload.names.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val procStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli)
      .orElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = session(work)
    val sessionUpS = (System.currentTimeMillis() - procStartMs) / 1e3
    val trace = new Trace(spark.sparkContext)
    val ctx = new Ctx(spark, seed, work, trace)
    val record = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    try {
      if (traced) tracedRun(ctx, workload, record, metrics)
      else timedRun(ctx, workload, seconds, sessionUpS, record, metrics)
    } catch {
      case e: Exception =>
        ctx.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        record("exception") = e.toString
    }
    val rec = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "error_rate" -> (if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 1.0),
      "failures" -> ctx.failures.toSeq,
      "op_seconds" -> ctx.opSeconds.toMap,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "provenance" -> ListMap(
        "cores" -> ctx.cores, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))) ++ record
    Files.createDirectories(out.getParent)
    Files.writeString(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(rec))
    spark.stop()
  }

  /** The production session: all cores, shuffle width = cores, the
    * library's extensions, and the streaming state settings of
    * `graft.Bench`'s streaming blocks.  Every path stays under `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  /** Generate inputs; a second generation must give identical digests. */
  private def generate(ctx: Ctx, w: Workload, repeats: Int): (Seq[Double], Map[String, String]) = {
    val runs = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      val d = w.generate()
      ((System.nanoTime() - t0) / 1e9, d)
    }
    if (runs.map(_._2).distinct.size != 1)
      ctx.fail(s"${w.name}: inputs differ between generations of one seed")
    (runs.map(_._1), runs.head._2)
  }

  /** One pass: (wall s, CPU s) without the off-clock work. */
  private def timedPass(ctx: Ctx, w: Workload, traced: Boolean): (Double, Double) = {
    val (c0, cc0) = (ctx.checkNs, ctx.checkCpuNs)
    val t0 = System.nanoTime(); val cpu0 = ctx.cpuNs()
    w.pass(traced)
    val wall = (System.nanoTime() - t0 - (ctx.checkNs - c0)) / 1e9
    val cpu = (ctx.cpuNs() - cpu0 - (ctx.checkCpuNs - cc0)) / 1e9
    (wall, cpu)
  }

  private def timedRun(ctx: Ctx, name: String, seconds: Double, sessionUpS: Double,
      record: mutable.Map[String, Any], metrics: mutable.Map[String, (Double, String)]): Unit = {
    val w = Workload(name, ctx)
    val (genS, digests) = generate(ctx, w, GenRepeats)
    val t0 = System.nanoTime()
    w.load()
    val loadS = (System.nanoTime() - t0) / 1e9
    val warmS = (1 to w.warmUpPasses).map(_ => timedPass(ctx, w, traced = false)._1).sum
    val setupS = sessionUpS + Ctx.median(genS) + loadS + warmS
    val passes = mutable.ArrayBuffer.empty[(Double, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val (wall, cpu) = timedPass(ctx, w, traced = false)
      passes += ((wall, cpu))
    }
    metrics("setup_s") = (setupS, "s")
    metrics("wall_s") = (Ctx.median(passes.map(_._1).toSeq), "s")
    metrics("cpu_s") = (Ctx.median(passes.map(_._2).toSeq), "s")
    record("peak_rss_mb") = peakRssMb()
    record("setup") = ListMap("session_s" -> sessionUpS, "generate_s" -> genS,
      "load_s" -> loadS, "warmup_s" -> warmS)
    record("passes") = passes.map { case (a, b) => ListMap("wall_s" -> a, "cpu_s" -> b) }.toSeq
    record("pass_count") = passes.size
    record("digests") = digests
    record("shape") = w.shape
    record("oracles") = w.oracles.map { case (n, sql, rows) =>
      ListMap("name" -> n, "sql" -> sql, "spark" -> rows) }
    w.release()
  }

  /** Warm-up, untraced pass, traced pass, untraced pass: the overhead is
    * the traced pass minus the mean of the passes around it.  Every
    * per-layer metric is printed; layers the workload does not call
    * read 0. */
  private def tracedRun(ctx: Ctx, name: String, record: mutable.Map[String, Any],
      metrics: mutable.Map[String, (Double, String)]): Unit = {
    val tr = ctx.trace
    val w = Workload(name, ctx)
    val digests = generate(ctx, w, 1)._2
    w.load()
    (1 to w.warmUpPasses).foreach(_ => timedPass(ctx, w, traced = false))
    val before = timedPass(ctx, w, traced = false)._1
    tr.activate(name)
    val wall = timedPass(ctx, w, traced = true)._1
    org.apache.spark.sql.graftshim.Bridge.drainListenerBus(ctx.spark)
    val passSpans = tr.spans.filter(_.parent == -1).toSeq
    val c = new SparkCounters
    passSpans.map(_.name).distinct.foreach(n => c += tr.countersOf(n))
    Workload.names.foreach { n =>
      val layers = if (n == name) w.layerMetrics() else Workload(n, ctx).layerMetrics()
      layers.foreach { case (k, v, u) => metrics(k) = (v, u) }
    }
    tr.deactivate(ctx.spark)
    val after = timedPass(ctx, w, traced = false)._1
    val untraced = (before + after) / 2
    metrics("spark.jobs") = (c.jobs.toDouble, "count")
    metrics("spark.stages") = (c.stages.toDouble, "count")
    metrics("spark.tasks") = (c.tasks.toDouble, "count")
    metrics("spark.sched_delay_s") = (c.schedDelayMs / 1e3, "s")
    metrics("spark.core_util") = (c.runNs / 1e9 / (wall * ctx.cores), "ratio")
    metrics("spark.shuffle_bytes") = (c.shuffleBytes.toDouble, "bytes")
    metrics("spark.gc_s") = (c.gcMs / 1e3, "s")
    metrics("trace.traced_wall_s") = (wall, "s")
    metrics("trace.untraced_wall_s") = (untraced, "s")
    metrics("trace.overhead_s") = (wall - untraced, "s")
    metrics("trace.unattributed_s") = (wall - passSpans.map(_.seconds).sum, "s")
    metrics("jvm.peak_rss_mb") = (peakRssMb(), "MB")
    record("untraced_passes_s") = Seq(before, after)
    record("spark") = c.toMap
    record("digests") = digests
    record("shape") = w.shape
    record("oracles") = w.oracles.map { case (n, sql, rows) =>
      ListMap("name" -> n, "sql" -> sql, "spark" -> rows) }
    w match {
      case s: StreamIngest => record("state_custom_metrics") = s.customMetricNames
      case _ =>
    }
    record("spans") = tr.spansRecord
    w.release()
  }
}
