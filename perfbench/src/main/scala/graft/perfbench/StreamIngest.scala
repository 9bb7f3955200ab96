package graft.perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.Folds
import graft.ext.{Components, Dedup}
import graft.sources.TxLog
import graft.streaming.StreamingAgg
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The write path fed in micro-batches by one closed-loop client, into
  * three streaming queries that run for the whole benchmark run (a
  * stream is long-lived; its start-up is set-up).  Each pass feeds
  * phase A, seeded events through `runningFoldTws` and
  * `statefulDedupFirstTws` (RocksDB state, event-time timers, TTL), then
  * phase B, the next slice of the corpus through the curation sink's
  * batch body `curationStep`, which started from an empty LSH index: Tx
  * index append and probe, incremental components, four TxLogs.  The
  * warm-up pass's curation batch takes the first-batch path, every
  * later one the incremental path.  Checks compare everything fed so
  * far, so each timed pass also re-checks the warm-up. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  val name = "stream_ingest"
  private val in = ctx.inputs
  private val spark = ctx.spark
  private val TtlMs = 30000L
  private val Layers = Seq("pairs", "assign", "survivors", "emit")
  private val Index = "perfbench_lsh"
  private def dir: Path = ctx.work.resolve("stream")
  private def curDir(d: String): String = dir.resolve("curation").resolve(d).toString

  private var docFeed: IndexedSeq[IndexedSeq[(Long, String)]] = Vector.empty
  private var foldQ: Option[(MemoryStream[(Long, Double)], StreamingQuery)] = None
  private var dedupQ: Option[(MemoryStream[(Long, java.sql.Timestamp, Double)], StreamingQuery)] = None
  private var curQ: Option[(MemoryStream[(Long, String)], StreamingQuery)] = None
  private var foldFed = 0  // state batches fed to the running fold so far
  private var dedupFed = 0 // ... and to the dedup
  private var docsFed = 0  // curation batches fed so far

  // oracles, advanced over every batch fed so far (off the pass clock)
  private val foldSums = mutable.HashMap.empty[Long, Double]
  private var foldChecked = 0
  private val firstSeen = mutable.HashMap.empty[Long, Long]
  private var watermark = 0L
  private var dedupSig = (0L, 0L, 0.0, 0L, 0L)
  private var dedupChecked = 0

  // the last pass's observations
  private val stateMs = mutable.ArrayBuffer.empty[Double]
  private val curationS = mutable.ArrayBuffer.empty[Double]
  private val progress = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
  private val batchMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layerS = mutable.LinkedHashMap.empty[String, Double]
  private val written = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
  private var writeAmp = 0.0

  private val scoreOf = (df: DataFrame) =>
    df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))

  private def dig(xs: Iterable[Any]): String =
    java.lang.Long.toHexString(xs.foldLeft(0L)((h, x) => Rng.mix(h ^ x.##.toLong)))

  def generate(): Map[String, String] = {
    val (base, _) = in.baseDocs
    docFeed = base.take(Sizes.curationBatches * Sizes.curationBatchDocs)
      .map(d => (d.doc_id, d.text)).grouped(Sizes.curationBatchDocs).toIndexedSeq
    // state batches are generated as they are fed; digest the first few passes'
    val n = 4 * Sizes.stateBatches
    Map("fold_feed" -> dig((0 until n).flatMap(in.foldBatch)),
      "dedup_feed" -> dig((0 until n).flatMap(in.dedupBatch)),
      "doc_feed" -> dig(docFeed.flatten))
  }

  /** Start the three queries: set-up, like any long-running stream. */
  def load(): Unit = {
    implicit val sq = spark.sqlContext
    val fm = MemoryStream[(Long, Double)]
    foldQ = Some((fm, StreamingAgg.runningFoldTws(fm.toDS(), Folds.sumD)
      .writeStream.format("memory").queryName("perfbench_fold").outputMode("update")
      .option("checkpointLocation", dir.resolve("fold_ckpt").toString).start()))
    val dm = MemoryStream[(Long, java.sql.Timestamp, Double)]
    dedupQ = Some((dm, StreamingAgg.statefulDedupFirstTws(dm.toDS(), "0 seconds", ttlMs = TtlMs)
      .writeStream.format("memory").queryName("perfbench_dedup").outputMode("append")
      .option("checkpointLocation", dir.resolve("dedup_ckpt").toString).start()))
    Dedup.writeLshIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", Index)
    val cm = MemoryStream[(Long, String)]
    val tr = ctx.trace
    // the curation sink's batch body, with the layer hook it takes
    val q = cm.toDF().toDF("doc_id", "text").writeStream.outputMode("append")
      .option("checkpointLocation", curDir("ckpt"))
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        var last = System.nanoTime()
        var open = tr.openOnThread("streaming.curation.pairs")
        StreamingAgg.curationStep(batch.toDF(), 1L + epoch, "doc_id", "text", scoreOf, "q",
          Index, curDir("pairs"), curDir("assign"), curDir("surv"),
          emitDir = Some(curDir("emit")), minJaccard = 0.5,
          layerHook = (l, _) => {
            val now = System.nanoTime()
            layerS(l) = layerS.getOrElse(l, 0.0) + (now - last) / 1e9
            last = now
            tr.closeOnThread(open)
            open = Layers.dropWhile(_ != l).drop(1).headOption
              .flatMap(n => tr.openOnThread(s"streaming.curation.$n"))
          })
        tr.closeOnThread(open)
      }.start()
    curQ = Some((cm, q))
  }

  def shape: Map[String, Any] = ListMap(
    "state_feeds" -> ListMap("rows_per_batch" -> Sizes.stateBatchRows,
      "batches_per_pass" -> Sizes.stateBatches, "distinct_keys" -> Sizes.stateKeys,
      "bytes_per_batch" -> Sizes.stateBatchRows * (16L + 24L)),
    "doc_feed" -> ListMap("rows_per_batch" -> Sizes.curationBatchDocs,
      "batches" -> docFeed.size, "bytes" -> docFeed.flatten.map(_._2.length.toLong + 8).sum,
      "planted_near_dup_pairs" -> in.baseDocs._2))

  /** Feed `batches` one micro-batch at a time, timing each from addData
    * until processAllAvailable returns. */
  private def drain[T](label: String, q: StreamingQuery, batches: Seq[T])(add: T => Unit): Unit = {
    val lat = batchMs.getOrElseUpdate(label, mutable.ArrayBuffer.empty)
    val prog = progress.getOrElseUpdate(label, mutable.ArrayBuffer.empty)
    ctx.trace.bindQuery(q)
    batches.foreach { b =>
      val t0 = System.nanoTime()
      add(b)
      q.processAllAvailable()
      val ms = (System.nanoTime() - t0) / 1e6
      lat += ms; stateMs += ms
      Option(q.lastProgress).foreach(prog += _)
    }
  }

  private def checkFold(): Option[String] = {
    (foldChecked until foldFed).foreach(b =>
      in.foldBatch(b).foreach { case (k, v) => foldSums(k) = foldSums.getOrElse(k, 0.0) + v })
    foldChecked = foldFed
    // update mode re-emits a key's running sum; values are >= 0, so the
    // last state of a key is its largest emitted sum
    val got = spark.table("perfbench_fold").groupBy("_1").agg(max("_2")).as[(Long, Double)]
      .collect().toMap
    if (got == foldSums) None
    else Some(s"running fold state differs from the batch fold (${got.size} vs ${foldSums.size} keys)")
  }

  /** First occurrence per key per TTL era, replayed batch by batch with
    * the watermark each micro-batch sees (max event time of the earlier
    * batches; the delay is 0); compared as a signature of the emitted
    * rows: count, key sum, value sum, distinct keys, event-time sum. */
  private def checkDedup(): Option[String] = {
    (dedupChecked until dedupFed).foreach { b =>
      val batch = in.dedupBatch(b)
      batch.groupBy(_._1).foreach { case (k, rows) =>
        if (!firstSeen.get(k).exists(fs => watermark <= fs + TtlMs)) {
          val first = rows.minBy(r => (StreamingAgg.eventTimeMicros(r._2), r._3))
          val newKey = if (firstSeen.contains(k)) 0L else 1L
          firstSeen(k) = first._2.getTime
          val (n, sk, sv, nk, st) = dedupSig
          dedupSig = (n + 1, sk + k, sv + first._3, nk + newKey, st + first._2.getTime)
        }
      }
      watermark = math.max(watermark, batch.map(_._2.getTime).max)
    }
    dedupChecked = dedupFed
    val r = spark.table("perfbench_dedup").selectExpr("count(*)", "sum(_1)", "sum(_3)",
      "count(distinct _1)", "sum(unix_millis(_2))").collect()(0)
    val got = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
    if (got == dedupSig) None else Some(s"dedup-first signature $got, oracle $dedupSig")
  }

  /** The streamed survivor log must resolve to the one-shot closure +
    * pick over the docs fed so far (the property StreamingSpec pins). */
  private def checkCuration(): Option[String] = {
    val docs = docFeed.take(docsFed).flatten.toDF("doc_id", "text")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text", minJaccard = 0.5)
    val nodes = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    val comp = Components.connectedComponents(pairs, "id_a", "id_b", nodes, "doc_id")
    val want = comp.join(scoreOf(comp.select("doc_id")), "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("survivor_id"))
      .select("component", "survivor_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    val got = Components.resolveSurvivors(TxLog.readCommitted(spark, curDir("surv")), "batch")
      .as[(Long, Long, Long)].collect().toSet
    ctx.releaseCaches()
    if (got == want) None
    else Some(s"streamed survivors (${got.size}) differ from the one-shot pick (${want.size})")
  }

  private def sourceDirs: Map[String, Seq[Path]] = {
    val wh = java.nio.file.Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    Map(
      "txlog" -> Seq("pairs", "assign", "surv", "emit").map(d => java.nio.file.Paths.get(curDir(d))),
      "lsh_index" -> Seq("bands", "shingles", "batches").map(t => wh.resolve(s"${Index}_$t")),
      "checkpoint" -> Seq(java.nio.file.Paths.get(curDir("ckpt")), dir.resolve("fold_ckpt"),
        dir.resolve("dedup_ckpt")))
  }

  /** Committed batches over the four TxLogs, and index batch markers. */
  private def commits(): (Long, Long) = (
    Seq("pairs", "assign", "surv", "emit")
      .map(d => TxLog.committedBatchIds(spark, curDir(d)).size.toLong).sum,
    if (!spark.catalog.tableExists(s"${Index}_batches")) 0L
    else {
      spark.catalog.refreshTable(s"${Index}_batches") // the file listing is cached
      spark.table(s"${Index}_batches").count()
    })

  def pass(traced: Boolean): Unit = {
    Seq(stateMs, curationS).foreach(_.clear())
    Seq(progress, batchMs).foreach(_.clear())
    layerS.clear()
    // the checks are cumulative, so the next pass's also covers this one
    val warmUp = docsFed == 0
    val (txBefore, idxBefore) = ctx.offClock(commits())
    val startMs = System.currentTimeMillis()
    val tr = ctx.trace
    tr.span("streaming.tws.fold") {
      ctx.op("tws_running_fold") {
        val (m, q) = foldQ.get
        drain("streaming.tws.fold", q, foldFed until foldFed + Sizes.stateBatches) { b =>
          m.addData(in.foldBatch(b)); foldFed += 1
        }
      } { _ => if (warmUp) None else checkFold() }
    }
    tr.span("streaming.tws.dedup") {
      ctx.op("tws_dedup_first") {
        val (m, q) = dedupQ.get
        drain("streaming.tws.dedup", q, dedupFed until dedupFed + Sizes.stateBatches) { b =>
          m.addData(in.dedupBatch(b)); dedupFed += 1
        }
      } { _ => if (warmUp) None else checkDedup() }
    }
    require(docsFed < docFeed.size, "curation feed exhausted")
    tr.span("streaming.curation") {
      ctx.op("curation_stream") {
        val (m, q) = curQ.get
        tr.bindQuery(q)
        val t0 = System.nanoTime()
        m.addData(docFeed(docsFed))
        q.processAllAvailable()
        curationS += (System.nanoTime() - t0) / 1e9
        docsFed += 1
      } { _ => if (warmUp) None else checkCuration() }
    }
    ctx.offClock {
      val (txAfter, idxAfter) = commits()
      val d = sourceDirs
      def since(k: String): (Long, Long) = d(k).map(p => Trace.walkSince(p, startMs))
        .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
      val (tf, tb) = since("txlog")
      val (xf, xb) = since("lsh_index")
      written("txlog") = (tf, tb, txAfter - txBefore)
      written("lsh_index") = (xf, xb, idxAfter - idxBefore)
      val payload = Sizes.stateBatches.toLong * Sizes.stateBatchRows * (16 + 24) +
        docFeed(docsFed - 1).map { case (_, t) => 8L + t.getBytes("UTF-8").length }.sum
      writeAmp = (tb + xb + since("checkpoint")._2).toDouble / payload
    }
  }

  /** Per-batch means of the `durationMs` phases and state-operator
    * figures of one query's progress feed. */
  private def progressMetrics(l: String): Seq[(String, Double, String)] = {
    val ps = progress.getOrElse(l, mutable.ArrayBuffer.empty).toSeq
    val n = math.max(ps.size, 1).toDouble
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / n
    val ops = ps.flatMap(_.stateOperators.headOption)
    def custom(k: String): Double =
      ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum / n
    val lat = batchMs.getOrElse(l, mutable.ArrayBuffer.empty).toSeq
    Seq(
      (s"$l.batch_ms_p50", Ctx.quantile(lat, 0.5), "ms"),
      (s"$l.batches", lat.size.toDouble, "count"),
      (s"$l.add_batch_ms", dur("addBatch"), "ms"),
      (s"$l.query_planning_ms", dur("queryPlanning"), "ms"),
      (s"$l.wal_commit_ms", dur("walCommit"), "ms"),
      (s"$l.commit_offsets_ms", dur("commitOffsets"), "ms"),
      (s"$l.commit_ms", ops.map(_.commitTimeMs.toDouble).sum / n, "ms"),
      (s"$l.rows_total", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      (s"$l.mem_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      (s"$l.rocksdb_changelog_commit_ms", custom("rocksdbChangeLogWriterCommitLatencyMs"), "ms"),
      (s"$l.rocksdb_file_sync_ms", custom("rocksdbCommitFileSyncLatencyMs"), "ms"),
      (s"$l.rocksdb_commit_checkpoint_ms", custom("rocksdbCommitCheckpointLatency"), "ms"),
      (s"$l.timer_ms", custom("timerProcessingTimeMs"), "ms"),
      (s"$l.timers_registered", custom("numRegisteredTimers"), "count"),
      (s"$l.timers_expired", custom("numExpiredTimers"), "count"),
      (s"$l.jobs_per_batch", ctx.trace.countersOf(l).jobs / n, "count"),
      (s"$l.warn_lines", ctx.trace.warnsOf(l).toDouble, "count"))
  }

  /** Names of every state-operator custom metric the queries reported. */
  def customMetricNames: Seq[String] =
    progress.values.flatten.flatMap(_.stateOperators.headOption)
      .flatMap(_.customMetrics.keySet().asScala).toSeq.distinct.sorted

  def layerMetrics(): Seq[(String, Double, String)] = {
    val nb = math.max(curationS.size, 1).toDouble
    val cur = "streaming.curation"
    progressMetrics("streaming.tws.fold") ++ progressMetrics("streaming.tws.dedup") ++ Seq(
      ("streaming.state_batch_ms_p50", Ctx.quantile(stateMs.toSeq, 0.5), "ms"),
      ("streaming.state_batch_ms_p90", Ctx.quantile(stateMs.toSeq, 0.9), "ms"),
      ("streaming.state_batches", stateMs.size.toDouble, "count"),
      (s"$cur.batch_s_p50", Ctx.quantile(curationS.toSeq, 0.5), "s"),
      (s"$cur.batches", curationS.size.toDouble, "count"),
      (s"$cur.jobs_per_batch", ctx.trace.countersOf(cur).jobs / nb, "count")) ++
      Layers.map(l => (s"$cur.${l}_s", layerS.getOrElse(l, 0.0) / nb, "s")) ++
      Seq("txlog", "lsh_index").flatMap { k =>
        val (f, b, c) = written.getOrElse(k, (0L, 0L, 0L))
        Seq((s"sources.$k.files_written", f / nb, "count"),
          (s"sources.$k.bytes_written", b / nb, "bytes"),
          (s"sources.$k.commits", c.toDouble, "count"))
      } :+ (("stream_ingest.write_amp", writeAmp, "ratio"))
  }

  def oracles: Seq[(String, String, Map[String, Any])] = Nil

  /** Stop the queries; their files go with the run's work dir. */
  def release(): Unit = Seq(foldQ, dedupQ, curQ).flatten.foreach(_._2.stop())
}
