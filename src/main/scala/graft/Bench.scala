package graft

import graft.core._
import graft.queries.RefQueries
import graft.simple.Simple

/** Driver-run benchmark: the B1–B5 set from /root/repo/BASELINE.md.
  *
  * B1/B2 transliterate the reference's own criterion workloads
  * (`/root/reference/bench/MapReduce.hs:47-52,280-306`, n=100,000,
  * fixed seed) onto the typed engine; B3–B5 run Q01/Q03/Q08 on the
  * `SPARK_GRAFT_SF_DIR` parquet.  Prints ONE JSON line.
  * Timing: 2 warmups + best of 5 (per BASELINE.md).
  */
object Bench {

  /** 2 warmups (JIT + code cache) then best-of-5.  The workloads are
    * deterministic, so wall-clock variance is one-sided interference
    * noise (GC pauses, co-scheduled processes, page cache misses) —
    * the MINIMUM is the consistent estimator of engine cost, where a
    * median still carries whatever load the machine happened to be
    * under (r2's driver run measured 3.9 s for a query that takes
    * 0.23 s quiet). */
  private def best5(f: => Unit): Double = {
    f; f // warmup
    val ts = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    ts.min
  }

  /** 1-minute load average from /proc/loadavg (0.0 if unreadable).
    * Stamped before/after each best-of-5 block so a reader of the
    * JSON can tell co-scheduled machine load from a real regression
    * without re-running (r3's driver run measured b6 at 14 s under
    * load-avg ~10; the same binary measures 1.7 s quiet). */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split("\\s+").head.toDouble
    catch { case _: Throwable => 0.0 }

  /** A block measured while the 1-minute load sat above this is
    * contention-suspect: the machine was running something besides
    * this bench (or hadn't yet decayed a previous block's own load). */
  private val contendedThreshold = 2.0

  /** Shared quiesce budget (ms) across the whole run: blocks may
    * collectively wait this long for ambient load to decay below
    * [[contendedThreshold]] before timing.  Bounded so a genuinely
    * busy machine delays the artifact by minutes, not forever — a
    * block that starts above threshold after the budget is spent is
    * simply flagged `contended` in the JSON.  Sized for the 1-minute
    * average's own decay: after the LSH blocks drive load to ~13,
    * getting back under threshold takes ~2 min of idle — the budget
    * must absorb the heavy blocks' decays or the tail blocks get
    * flagged for the bench's OWN wake (measured: 180 s budget →
    * b8-b10 flagged on a quiet box; sized for three decays now that
    * b11 follows the two LSH blocks).  `SPARK_GRAFT_QUIESCE_MS=0`
    * disables waiting entirely (flags still stamp). */
  private var quiesceBudgetMs = {
    val key = "SPARK_GRAFT_QUIESCE_MS"
    sys.env.get(key) match {
      case None => 600000L
      case Some(raw) =>
        // validate here, with the variable named — a bare .toLong
        // would surface as an uncontextualized NumberFormatException
        // at class-init, and a negative value as a nonsense budget
        val v = try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a non-negative integer (milliseconds), got '$raw'")
        }
        if (v < 0) throw new IllegalArgumentException(
          s"$key must be >= 0 ms, got $v")
        v
    }
  }

  private def awaitQuiet(): Unit = awaitQuietBelow(contendedThreshold)

  /** Bounded wait for the 1-minute average to decay below an
    * arbitrary threshold, drawing on the shared budget.  The
    * contention FLAG keys off [[contendedThreshold]] everywhere; a
    * TIGHTER pre-wait exists because a stamp that passes the flag at
    * 1.9 can still carry a prior block's decaying wake into the
    * measurement (r10: b10 read 7.26 s driver vs 6.24 quiet with a
    * passing pre-stamp of 1.88 — b9's wake hadn't fully decayed). */
  private def awaitQuietBelow(threshold: Double): Unit =
    while (loadAvg() > threshold && quiesceBudgetMs > 0) {
      Thread.sleep(3000); quiesceBudgetMs -= 3000
    }

  /** Timing + load stamps + contention verdict for one block.
    * Two consecutive driver rounds produced load-artifact headlines
    * (r7: every block at load 11–19; r8: b6 at 14.0 s under ambient
    * 4.3 — quiet reruns of the same binary: 1.4 s), so each block now
    * (a) waits for ambient load to decay (bounded by the shared
    * quiesce budget) and (b) carries an explicit `contended` flag —
    * a true flag means "re-measure quiet before reading this number
    * as a regression", recorded so nobody has to re-litigate.
    * The flag keys off the PRE-block stamp alone: the post stamp is
    * partially self-inflicted (a 10 s all-core block raises the
    * 1-minute average by several points on its own) and is kept as
    * informational context, not verdict. */
  private def best5Loaded(f: => Unit): (Double, Double, Double, Boolean) = {
    awaitQuiet()
    val l0 = loadAvg()
    val t = best5(f)
    val l1 = loadAvg()
    (t, l0, l1, l0 > contendedThreshold)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // NOTE: sf0.1 parquet files are single-row-group, so lowering
    // spark.sql.files.maxPartitionBytes cannot parallelize the scan
    // (measured: it only adds empty-split overhead)
    val spark = GraftSession.builder().getOrCreate()
    val batchPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- B9/B10 FIRST: the streaming blocks ----------------------------
    // They are scale-independent (MemoryStream feeds), and their
    // quiet-box numbers were repeatedly polluted by the LSH blocks'
    // own load wake when they ran last (r9: b9 measured 4.63 s under
    // post-LSH load 8.2 vs 3.46 s quiet, UNFLAGGED because the
    // pre-block ambient stamp had decayed just under threshold).  At
    // process start the ambient stamp is genuinely ambient — the
    // bench's own wake cannot precede its first block.
    //
    // B9: the streaming surface's tracked number — runningFoldTws
    // (transformWithState, RocksDB state store, named ValueState)
    // drains 200k rows in 10 micro-batches over 1,000 keys.  Reported
    // in seconds like every bench; rows/sec = 200k / b9.  TimeMode is
    // None (no TTL), so processAllAvailable terminates (with a TTL
    // the clock must advance and the query never quiesces).
    //
    // Production sizing knobs, both load-bearing here: state
    // partitions sized to KEY CARDINALITY, not cores (32 partitions ×
    // 10 batches = 320 RocksDB commits per run for 1k keys — measured
    // 9.9 s; 8 partitions right-sizes it), and RocksDB changelog
    // checkpointing (per-batch delta upload instead of full
    // snapshots — the setting a real cluster runs with).
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // Third production knob (r18): no-data micro-batches off.  Spark
    // schedules an EXTRA empty batch after each data batch to advance
    // the watermark/fire timers promptly on idle streams; for a
    // throughput-driven drain that doubles the RocksDB commit count
    // for zero extra rows — timers still fire, one batch later, on
    // the data path (the dedup operator re-checks TTL on arrival, so
    // emitted rows are IDENTICAL — the r18 A/B tool verified the row
    // set under both settings,
    // `git show 6936f95:src/main/scala/graft/tools/StreamKnobBench.scala`;
    // measured r18: b9 4.20→3.63 s, b10 6.92→4.82 s on the same box).
    // The trade is timer PROMPTNESS on idle streams, which a drain
    // benchmark (and any throughput-oriented pipeline) does not pay for.  Scale-free:
    // the knob halves per-batch fixed cost at any cluster size.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Fourth + fifth production knobs (r19), both measured on the
    // exact workloads first
    // (`git show 6936f95:src/main/scala/graft/tools/StreamKnobBench2.scala`;
    // A/B table in OPTIMIZATION_r19.md, emitted-row signatures
    // identical under every combination):
    //  - checkpoint-file checksums OFF: Spark 4.1 defaults to writing
    //    a companion checksum file beside every checkpoint file —
    //    for these blocks that doubles the state-changelog file
    //    creates+fsyncs per micro-batch (profiled: the changelog
    //    commit's file-sync time drops 481 → 285 ms summed per batch
    //    with it off).  Production trade: restores the ≤4.0 default;
    //    checkpoint-file corruption detection falls back to the
    //    storage layer's own checksums (HDFS block CRCs / object-store
    //    ETags).  Scale-free: one fewer file create+fsync per
    //    changelog per partition per batch at any cluster size.
    //  - snapshot cadence sized to recovery budget: default
    //    minDeltasForSnapshot=10 consolidates a RocksDB snapshot
    //    every 10 changelogs — per 10-batch drain that is one zip+
    //    upload per partition of pure overhead, billed to whichever
    //    iteration the async maintenance wakes under.  100 bounds
    //    recovery replay at 100 KB-sized changelogs (well inside any
    //    recovery budget here) and amortizes snapshot work 10×.
    //    Measured (best-of-5): defaults b9 3.92/3.83 b10 3.85/4.25;
    //    both knobs b9 3.07/3.16 b10 3.30/3.58 — checksum-off alone
    //    gets most of b9's gain, the pair is needed for b10's (the
    //    snapshot's own files are checksummed too, so the two
    //    interact through the same fsync path).
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "100")
    spark.conf.set("spark.sql.shuffle.partitions", "8") // state sizing, see above
    val b9rows = 200000; val b9batches = 10; val b9keys = 1000
    // checkpoint dirs are deleted AFTER the timing block (deleteRec's
    // RocksDB-flush-race retry can sleep up to ~1.2 s, which must not
    // bill to the measured number); each timed run stashes its dir here.
    // A dir that still won't go is left behind: a leaked tmp checkpoint
    // is harmless, a crashed bench run is not.
    val doneCkpts = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def drainCkpts(): Unit = {
      doneCkpts.foreach { p =>
        try graft.sources.Tables.deleteRec(p) catch { case _: java.io.IOException => () }
      }
      doneCkpts.clear()
    }
    def b9run(): Unit = {
      implicit val sq = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val ckpt = java.nio.file.Files.createTempDirectory("b9_ckpt")
      val q = graft.streaming.StreamingAgg.runningFoldTws(in.toDS(), Folds.sumD)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val per = b9rows / b9batches
        var i = 0
        while (i < b9batches) {
          val base = i.toLong * per
          in.addData((0 until per).map(j => ((base + j) % b9keys, (j % 97).toDouble)))
          q.processAllAvailable()
          i += 1
        }
      } finally { q.stop(); doneCkpts += ckpt }
    }
    val b9 = best5Loaded { b9run() }
    drainCkpts()

    // B10: the OTHER streaming state pattern — statefulDedupFirstTws
    // (event-time timers + manual TTL on RocksDB, the q70/q77 path).
    // b9's ValueState fold never registers a timer; dedup registers
    // one per key era and fires it when the watermark passes firstSeen
    // + ttl, so its RocksDB access pattern (timer CF writes + range
    // scans on expiry) is different enough to deserve its own number.
    // 200k rows / 10 batches / 1,000 keys; rows 10 ms apart in event
    // time, so each batch advances the watermark 200 s and a 30 s TTL
    // retires every key's era ~6 times per batch — timers fire
    // throughout, not just at the tail.  TimeMode is EventTime, so
    // processAllAvailable terminates (the data itself drives the
    // clock — no wall-clock wait).
    val b10rows = 200000; val b10batches = 10; val b10keys = 1000
    def b10run(): Unit = {
      implicit val sq = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Double)]
      val ckpt = java.nio.file.Files.createTempDirectory("b10_ckpt")
      val q = graft.streaming.StreamingAgg
        .statefulDedupFirstTws(in.toDS(), "0 seconds", ttlMs = 30000L)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val per = b10rows / b10batches
        var i = 0
        while (i < b10batches) {
          val base = i.toLong * per
          in.addData((0 until per).map { j =>
            val n = base + j
            (n % b10keys, new java.sql.Timestamp(1700000000000L + n * 10L),
              (j % 97).toDouble)
          })
          q.processAllAvailable()
          i += 1
        }
      } finally { q.stop(); doneCkpts += ckpt }
    }
    // b9's own 7-iteration wake is still in the 1-minute average
    // here; a plain threshold pass (2.0) lets up to ~2 points of
    // residual decay inflate b10's first iterations.  Wait for a
    // near-ambient floor between the two streaming blocks — ~80 s of
    // decay on a quiet box, bounded by the shared budget.
    awaitQuietBelow(1.0)
    val b10 = best5Loaded { b10run() }
    drainCkpts()

    // State-store teardown barrier: b9/b10 leave RocksDB provider
    // instances + the StateStore maintenance thread alive for the
    // rest of the process (snapshot uploads, orphan-file sweeps) —
    // background work that bills random fractions of a second to
    // whichever batch block it wakes under (b11's r12 spread
    // 5.89–6.73 on a quiet box).  stop() unloads every provider and
    // kills the maintenance task; a later streaming query would
    // restart it lazily, and no block after this point streams.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    // batch blocks want the full shuffle width back (and the
    // streaming-only knobs restored, though nothing below streams)
    spark.conf.set("spark.sql.shuffle.partitions", batchPartitions)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "true")
    spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "10")

    // B1 input: 100k (label, value), labels 'A'..'Z', values 1..100
    // (reference bench/MapReduce.hs:47-52; Char → 1-char String).
    val rnd = new scala.util.Random(42)
    val charPairs = (1 to 100000).map { _ =>
      (('A' + rnd.nextInt(26)).toChar.toString, rnd.nextInt(100) + 1)
    }
    // 8 partitions: 100k in-memory rows over 32 tasks is pure
    // scheduling overhead; partition count is sized to data, not cores
    val b1ds = spark.createDataset(charPairs).repartition(8).cache()
    b1ds.count()

    // B2 input: 100k ragged maps, A=l, B=l%47, C=l%13 iff l even
    // (reference bench/MapReduce.hs:280-290).
    val rnd2 = new scala.util.Random(43)
    val ragged = (1 to 100000).map { _ =>
      val l = rnd2.nextInt(100) + 1
      val base = Map("A" -> l, "B" -> l % 47)
      if (l % 2 == 0) base + ("C" -> (l % 13)) else base
    }
    val b2ds = spark.createDataset(ragged).repartition(8).cache()
    b2ds.count()

    val b1 = best5Loaded {
      Simple.hashableMapReduce(b1ds,
        Unpack.Filter[(String, Int)](_._2 % 2 == 0),
        Assign.of[(String, Int), String, Double](_._1)(_._2.toDouble),
        Reduce.fromFold[String, Double, Double](Folds.mean)).count()
    }
    val b2 = best5Loaded {
      Simple.hashableMapReduce(b2ds,
        Unpack.Explode[Map[String, Int], (Int, Double)] { m =>
          for { a <- m.get("A").iterator; b <- m.get("B").iterator
                c <- m.get("C").iterator } yield (c, (a + b).toDouble)
        },
        Assign.of[(Int, Double), Int, Double](_._1)(_._2),
        Reduce.fromFold[Int, Double, Double](Folds.mean)).count()
    }
    val b3 = best5Loaded { RefQueries.q01(spark, sfDir).count() }
    val b4 = best5Loaded { RefQueries.q03(spark, sfDir).count() }
    val b5 = best5Loaded { RefQueries.q08(spark, sfDir).count() }
    // B6-B8: the expensive pipeline operators (MinHash-LSH dedup,
    // n-gram Jaccard near-dup, LSH-bucketed ANN).  q17/q19 persist
    // their prep tables; clear the cache inside the timed body so
    // every iteration measures a cold operator, not a warm cache.
    import graft.queries.PipelineQueries
    // b8 (cheap ANN) runs BEFORE the two LSH heavyweights so its
    // pre-block load stamp reflects ambient, not b6/b7's own wake
    val b8 = best5Loaded { PipelineQueries.q15b(spark, sfDir).count() }
    // B14: BM25 top-k retrieval (q105) — the scorer the round-12
    // retrieval family (persisted/incremental/streamed index, q112
    // decontamination) shares.  Cheap by design (only query-term
    // postings shuffle), so it runs with the light blocks before the
    // LSH heavyweights' wake.
    val b14 = best5Loaded { PipelineQueries.q105(spark, sfDir).count() }
    // B15: concat-and-chunk token packing (q130) — encode-to-ids at
    // scan speed, one bucket shuffle, per-chunk slice reassembly.
    // Cheap (the corpus passes the shuffle once as compact long
    // arrays), so it runs with the light blocks before the LSH
    // heavyweights' wake; measured so the packing path has its own
    // per-round number like every other first-class operator.
    val b15 = best5Loaded { PipelineQueries.q130(spark, sfDir).count() }
    val b6 = best5Loaded {
      PipelineQueries.q17(spark, sfDir).count(); spark.catalog.clearCache()
    }
    val b7 = best5Loaded {
      PipelineQueries.q19(spark, sfDir).count(); spark.catalog.clearCache()
    }
    // B11: the composed corpus-curation flagship (q92) — LSH pairs →
    // connected-component closure → per-cluster survivor pick →
    // broadcast anti-join filter of the corpus → quality gate → hash
    // split.  This is THE end-to-end operation a training-data
    // pipeline runs; tracking it per round catches a regression in
    // any stage of the composition, not just the stages benched in
    // isolation (b6 covers the pair stage alone).
    // q92 is the one block whose machinery localCheckpoints (the
    // component closure): those RDD blocks are NOT Dataset cache, so
    // clearCache leaves them behind and the async ContextCleaner lags
    // a rapid-fire bench loop — measured drift 8.16→8.44→11.05 s over
    // three isolated best-of-5 groups without the sweep, flat with it
    // (r12's 9.21 driver reading and 5.89–6.73 quiet spread were this
    // accumulation plus q92's long JIT tail).  The explicit
    // persistent-RDD sweep makes the block self-stabilizing.
    val b11 = best5Loaded {
      PipelineQueries.q92(spark, sfDir).count(); spark.catalog.clearCache()
      // async: the removal must not bill to the iteration
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // B13: cross-document passage removal (q106) — the other
    // gram-granularity heavyweight (8-gram explode with positions, two
    // gram-hash shuffles, broadcast mark rebuild).  Runs last so its
    // wake can't pollute any other block.  (b12 is the CurationBench
    // log-growth curve in BASELINE.md, not a Bench block; CurationBench
    // is at `4740777:src/main/scala/graft/tools/CurationBench.scala`.)
    val b13 = best5Loaded {
      PipelineQueries.q106(spark, sfDir).count(); spark.catalog.clearCache()
    }
    val qs = Seq("b1_charpair_mean" -> b1, "b2_ragged_mean" -> b2,
      "b3_q01_group_sum" -> b3, "b4_q03_multi_agg" -> b4, "b5_q08_mean" -> b5,
      "b6_q17_minhash_lsh" -> b6, "b7_q19_ngram_jaccard" -> b7,
      "b8_q15b_ann_lsh" -> b8, "b9_running_fold_tws" -> b9,
      "b10_dedup_ttl_tws" -> b10, "b11_q92_survivor_corpus" -> b11,
      "b13_q106_passage_removal" -> b13, "b14_q105_bm25_topk" -> b14,
      "b15_q130_concat_chunk" -> b15)
    val qjson = qs.map { case (k, (v, _, _, _)) => s""""$k":$v""" }.mkString("{", ",", "}")
    // per-bench [loadavg-before, loadavg-after]: a bench whose load
    // numbers are near the core count was measured under contention
    val ljson = qs.map { case (k, (_, l0, l1, _)) => s""""$k":[$l0,$l1]""" }.mkString("{", ",", "}")
    // per-bench contention verdict (pre-block ambient > threshold
    // after the bounded quiesce wait): a true here means "re-measure
    // quiet before reading the number as a regression"
    val cjson = qs.map { case (k, (_, _, _, c)) => s""""$k":$c""" }.mkString("{", ",", "}")
    val loadMax = qs.map { case (_, (_, l0, l1, _)) => math.max(l0, l1) }.max
    val total = qs.map(_._2._1).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"load_1m":$ljson,"contended":$cjson,"load_max":$loadMax,"sf":"$sfDir"}""")
    spark.stop()
  }
}
