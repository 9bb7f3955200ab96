package graft

import graft.core.Folds
import graft.streaming.StreamingAgg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("windowedAgg: watermarked tumbling window over a memory stream") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "k", "v")
    val out = StreamingAgg.windowedAgg(df, "ts", "10 seconds", "1 minute",
      Seq(col("k")), Seq(sum(col("v")).as("s"), count(lit(1)).as("n")))
    val q = StreamingAgg.toMemorySink(out, "win_sink", OutputMode.Update)
    try {
      def t(s: String) = Timestamp.valueOf(s)
      in.addData((t("2026-01-01 00:00:05"), "a", 1.0),
        (t("2026-01-01 00:00:20"), "a", 2.0),
        (t("2026-01-01 00:01:10"), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT k, s, n FROM win_sink ORDER BY k").as[(String, Double, Long)].collect()
      assert(rows.contains(("a", 3.0, 2L))) // both 'a' events in the 00:00 window
      assert(rows.contains(("b", 5.0, 1L)))
    } finally q.stop()
  }

  test("sessionAgg groups activity bursts split by the gap") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "k", "v")
    val out = StreamingAgg.sessionAgg(df, "ts", "0 seconds", "30 seconds",
      Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = StreamingAgg.toMemorySink(
      out.select(col("k"), col("n")), "sess_sink",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // two bursts for 'a' separated by > 30s, one burst for 'b'
      in.addData((t("2026-01-01 00:00:00"), "a", 1.0),
        (t("2026-01-01 00:00:10"), "a", 1.0),
        (t("2026-01-01 00:02:00"), "a", 1.0),
        (t("2026-01-01 00:00:05"), "b", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, n FROM sess_sink ORDER BY k, n")
        .as[(String, Long)].collect().toList
      assert(rows == List(("a", 1L), ("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("runningFold: per-key fold state accumulates across triggers") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val out = StreamingAgg.runningFold(in.toDS(), Folds.sum[Double])
    val q = out.toDF("k", "total").writeStream.format("memory")
      .queryName("run_sink").outputMode(OutputMode.Update).start()
    try {
      in.addData(("x", 1.0), ("x", 2.0), ("y", 10.0))
      q.processAllAvailable()
      in.addData(("x", 4.0))
      q.processAllAvailable()
      // Update mode appends each trigger's emissions; latest per key wins
      val latest = spark.sql("SELECT k, total FROM run_sink")
        .as[(String, Double)].collect().groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).max }
      assert(latest == Map("x" -> 7.0, "y" -> 10.0))
    } finally q.stop()
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("runningFoldTws: TWS twin accumulates across triggers like runningFold") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val in = MemoryStream[(String, Double)]
      val out = StreamingAgg.runningFoldTws(in.toDS(), Folds.sum[Double])
      val q = out.toDF("k", "total").writeStream.format("memory")
        .queryName("run_tws_sink").outputMode(OutputMode.Update).start()
      try {
        in.addData(("x", 1.0), ("x", 2.0), ("y", 10.0))
        q.processAllAvailable()
        in.addData(("x", 4.0))
        q.processAllAvailable()
        val latest = spark.sql("SELECT k, total FROM run_tws_sink")
          .as[(String, Double)].collect().groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).max }
        assert(latest == Map("x" -> 7.0, "y" -> 10.0))
      } finally q.stop()
    }
  }

  test("runningFoldTws: TTL expires idle state so the fold restarts from init") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val in = MemoryStream[(String, Double)]
      val out = StreamingAgg.runningFoldTws(in.toDS(), Folds.count[Double],
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(300)))
      // ProcessingTime mode: batches keep running so the TTL clock
      // advances — pace them, and AWAIT the sink (processAllAvailable
      // never returns on a query that always has "another batch")
      val q = out.toDF("k", "n").writeStream.format("memory")
        .queryName("run_ttl_sink").outputMode(OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("100 milliseconds"))
        .start()
      def awaitRows(pred: Set[Long] => Boolean): Set[Long] = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var got = Set.empty[Long]
        while (!pred(got) && System.nanoTime() < deadline) {
          Thread.sleep(100)
          got = spark.sql("SELECT n FROM run_ttl_sink WHERE k = 'x'")
            .as[Long].collect().toSet
        }
        got
      }
      try {
        in.addData(("x", 1.0), ("x", 2.0))
        val first = awaitRows(_.contains(2L))
        assert(first.contains(2L), s"first era should count to 2, got $first")
        // let the processing-time TTL lapse, then send the key again:
        // the expired buffer must read as absent, restarting the count
        Thread.sleep(1500)
        in.addData(("x", 3.0))
        val all = awaitRows(_.contains(1L))
        assert(all == Set(2L, 1L),
          s"got $all: first era counts to 2, post-TTL era restarts at 1")
      } finally q.stop()
    }
  }

  test("runningFoldTws state-store value is a typed row, not a Kryo binary blob") {
    withRocksDb {
      implicit val sq = spark.sqlContext
      val fold = Folds.count[Double].zip(Folds.minD).zip(Folds.maxD)
      assert(fold.bufEncoder.isDefined, "the gate fold must carry a native encoder")
      val in = MemoryStream[(String, Double)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_state").toString
      val out = StreamingAgg.runningFoldTws(in.toDS(), fold)
      val q = out.map { case (k, ((n, mn), mx)) => (k, n, mn.get, mx.get) }
        .toDF("k", "n", "mn", "mx")
        .writeStream.format("memory").queryName("run_schema_sink")
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(("x", 1.0), ("x", 5.0))
        q.processAllAvailable()
      } finally q.stop()
      // read the committed state back through the state data source:
      // the value column's schema is the fold buffer's PRODUCT schema
      val state = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "buf").load()
      val valueType = state.schema("value").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(!valueType.fields.exists(_.dataType ==
        org.apache.spark.sql.types.BinaryType),
        s"state value must not be an opaque blob, got $valueType")
      assert(valueType.fields.length >= 2,
        s"zipped fold buffer should surface as nested product fields: $valueType")
    }
  }

  test("intervalJoin: stream-stream join bounded by event-time interval") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val buys = MemoryStream[(Timestamp, Long, Double)]
    val joined = StreamingAgg.intervalJoin(
      clicks.toDF().toDF("cts", "uid", "page"),
      "cts",
      buys.toDF().toDF("bts", "uid", "amount"),
      "bts",
      Seq("uid"), "10 seconds", "1 minute", "0 seconds")
      .select(col("uid"), col("page"), col("amount"))
    val q = joined.writeStream.format("memory").queryName("ij_sink")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      clicks.addData((t("2026-01-01 00:00:10"), 1L, "home"),
        (t("2026-01-01 00:05:00"), 1L, "far_page"), // > 1 min before the buy? no — far AFTER
        (t("2026-01-01 00:00:05"), 2L, "other"))
      buys.addData((t("2026-01-01 00:00:40"), 1L, 9.99))
      q.processAllAvailable()
      val rows = spark.sql("SELECT uid, page, amount FROM ij_sink")
        .as[(Long, String, Double)].collect().toSet
      // only the click within [buy-1min, buy] for uid 1 joins
      assert(rows == Set((1L, "home", 9.99)))
    } finally q.stop()
  }

  test("toParquetSink: checkpointed file sink lands rows readable as a table") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files.createTempDirectory("graft_psink").toString
    val q = StreamingAgg.toParquetSink(
      in.toDF().toDF("id", "payload"), s"$base/data", s"$base/ckpt")
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/data")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("statefulDedupFirst emits first occurrence, suppresses dups, re-emits after TTL") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Long)]
    val out = StreamingAgg.statefulDedupFirst(
      in.toDS(), watermarkDelay = "0 seconds", ttlMs = 60 * 1000L)
      .toDF("k", "ts", "v")
    val q = StreamingAgg.toMemorySink(out, "sdedup_sink", OutputMode.Append)
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // batch 1: first occurrence of 'a' (min (ts, v) within the batch)
      in.addData(("a", t("2026-01-01 00:00:00"), 2L),
        ("a", t("2026-01-01 00:00:00"), 1L),
        ("a", t("2026-01-01 00:00:05"), 0L))
      q.processAllAvailable()
      // batch 2: duplicate inside the TTL era — suppressed; advance
      // the watermark past firstSeen + 60s so the state times out
      in.addData(("a", t("2026-01-01 00:00:30"), 9L),
        ("b", t("2026-01-01 00:02:00"), 7L))
      q.processAllAvailable()
      // batch 3: trigger with data so timed-out state is collected,
      // then 'a' arrives again — a NEW era, so it re-emits
      in.addData(("a", t("2026-01-01 00:02:30"), 5L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v FROM sdedup_sink ORDER BY k, v")
        .as[(String, Long)].collect().toList
      assert(rows == List(("a", 1L), ("a", 5L), ("b", 7L)),
        s"got $rows: first-by-(ts,v) for 'a' era 1, re-emit after TTL, 'b' once")
    } finally q.stop()
  }

  test("statefulDedupFirstTws (transformWithState) matches the fMGWS twin") {
    implicit val sq = spark.sqlContext
    // transformWithState runs only on the RocksDB state store
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(String, Timestamp, Long)]
    val out = StreamingAgg.statefulDedupFirstTws(
      in.toDS(), watermarkDelay = "0 seconds", ttlMs = 60 * 1000L)
      .toDF("k", "ts", "v")
    val q = StreamingAgg.toMemorySink(out, "sdedup_tws_sink", OutputMode.Append)
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // the exact feed of the fMGWS test — same contract, same output
      in.addData(("a", t("2026-01-01 00:00:00"), 2L),
        ("a", t("2026-01-01 00:00:00"), 1L),
        ("a", t("2026-01-01 00:00:05"), 0L))
      q.processAllAvailable()
      in.addData(("a", t("2026-01-01 00:00:30"), 9L),
        ("b", t("2026-01-01 00:02:00"), 7L))
      q.processAllAvailable()
      in.addData(("a", t("2026-01-01 00:02:30"), 5L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v FROM sdedup_tws_sink ORDER BY k, v")
        .as[(String, Long)].collect().toList
      assert(rows == List(("a", 1L), ("a", 5L), ("b", 7L)),
        s"got $rows: must match statefulDedupFirst on the same feed")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("statefulDedupFirstTws: one live timer per key; an idle key is cleared after its TTL") {
    // no-data batches off (the streaming benchmark's setting): a key's
    // lapsed era then meets its next arrival in the same batch as its
    // expiry timer, the case that used to leave two timers per key
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    try withRocksDb {
      implicit val sq = spark.sqlContext
      val in = MemoryStream[(String, Timestamp, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_timers").toString
      val out = StreamingAgg.statefulDedupFirstTws(
        in.toDS(), watermarkDelay = "0 seconds", ttlMs = 60 * 1000L)
        .toDF("k", "ts", "v")
      val q = out.writeStream.format("memory").queryName("sdedup_timer_sink")
        .outputMode(OutputMode.Append).option("checkpointLocation", ckpt).start()
      def t(sec: Int) = new Timestamp(1767225600000L + sec * 1000L)
      // each batch runs under the watermark of the batches before it;
      // returns (timers registered, timers expired) over the
      // micro-batches the feed triggered (a data batch, plus the
      // no-data batch a watermark advance may add)
      var seen = 0
      def feed(rows: (String, Timestamp, Long)*): (Long, Long) = {
        in.addData(rows: _*)
        q.processAllAvailable()
        val ps = q.recentProgress.drop(seen)
        seen += ps.length
        val ms = ps.flatMap(_.stateOperators.headOption).map(_.customMetrics)
        (ms.map(_.get("numRegisteredTimers").longValue).sum,
          ms.map(_.get("numExpiredTimers").longValue).sum)
      }
      try {
        assert(feed(("a", t(0), 1L)) == ((1L, 0L)))
        assert(feed(("x", t(100), 2L))._1 == 1L)
        // watermark 100 s: a's era (deadline 60 s) lapsed and a arrives
        // again — ONE admission, so one registration: the old era's
        // timer is deleted, not left to fire against the new era
        // (which used to re-register a second timer for the key)
        assert(feed(("a", t(110), 3L)) == ((1L, 0L)))
        assert(feed(("y", t(300), 4L)) == ((1L, 0L)))
        // watermark 300 s: a (deadline 170 s) and x (160 s) are idle
        // past their TTL — their timers fire and clear their state
        assert(feed(("z", t(310), 5L)) == ((1L, 2L)))
      } finally q.stop()
      val emitted = spark.sql("SELECT k, v FROM sdedup_timer_sink ORDER BY v")
        .as[(String, Long)].collect().toSeq
      assert(emitted == Seq(("a", 1L), ("x", 2L), ("a", 3L), ("y", 4L), ("z", 5L)))
      val state = spark.read.format("statestore").option("path", ckpt)
        .option("stateVarName", "firstSeen").load()
        .select(col("key").getField("value").as("k")).as[String].collect().toSet
      assert(state == Set("y", "z"), s"idle keys must be cleared, state holds $state")
    } finally prevNoData match {
      case Some(v) => spark.conf.set(noData, v)
      case None    => spark.conf.unset(noData)
    }
  }

  test("statefulDedupFirst suppresses a late earlier-timestamped duplicate") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Long)]
    val out = StreamingAgg.statefulDedupFirst(
      in.toDS(), watermarkDelay = "10 minutes", ttlMs = 60 * 60 * 1000L)
      .toDF("k", "ts", "v")
    val q = StreamingAgg.toMemorySink(out, "sdedup_ooo_sink", OutputMode.Append)
    try {
      def t(s: String) = Timestamp.valueOf(s)
      in.addData(("a", t("2026-01-01 00:05:00"), 3L))
      q.processAllAvailable()
      // out-of-order: an EARLIER event for 'a' arrives a batch later,
      // inside the watermark — the key already emitted this era, so the
      // documented contract is suppress (no second row, no replacement)
      in.addData(("a", t("2026-01-01 00:01:00"), 1L),
        ("b", t("2026-01-01 00:01:30"), 2L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v FROM sdedup_ooo_sink ORDER BY k")
        .as[(String, Long)].collect().toList
      assert(rows == List(("a", 3L), ("b", 2L)), s"got $rows")
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "id", "payload")
    val out = StreamingAgg.dedupStream(df, Seq("id"), "ts", "1 minute")
    val q = out.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      in.addData((t("2026-01-01 00:00:01"), 1L, "a"),
        (t("2026-01-01 00:00:01"), 1L, "a"), // exact duplicate
        (t("2026-01-01 00:00:02"), 2L, "b"))
      q.processAllAvailable()
      in.addData((t("2026-01-01 00:00:01"), 1L, "a")) // duplicate, later trigger
      // same KEY at a different event time: still a duplicate —
      // dedup is on the key columns alone (Dedup.exact's contract)
      in.addData((t("2026-01-01 00:00:07"), 1L, "a2"))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup_sink").collect().head.getLong(0)
      assert(n == 2L)
    } finally q.stop()
  }

  test("streamed priority sample equals the batch pick after EVERY micro-batch prefix") {
    import graft.ext.Sampling
    implicit val sq = spark.sqlContext
    val k = 7
    // deterministic weights with collisions so ties exercise the
    // (pri, -id) order; ids sparse so hashes spread
    val rows = (1L to 500L).map(id => (id * 13L, (id % 23L) + 1L))
    val in = MemoryStream[(Long, Long)]
    val tk = StreamingAgg.foldUdaf(Sampling.priorityTopKFold(k))
    val agg = in.toDF().toDF("id", "w")
      .select(Sampling.priorityItem(col("id"), col("w")).as("it"))
      .select(col("it.pri").as("pri"), col("it.nid").as("nid"),
        col("it.id").as("id"), col("it.w").as("w"))
      .agg(tk(col("pri"), col("nid"), col("id"), col("w")).as("arr"))
    val q = agg.writeStream.format("memory").queryName("psample_sink")
      .outputMode("complete").start()
    def finish(sink: org.apache.spark.sql.DataFrame) =
      Sampling.finishPriorityTopK(
        sink.select(transform(col("arr"), x =>
          struct(x.getField("_1").as("pri"), x.getField("_2").as("nid"),
            x.getField("_3").as("id"), x.getField("_4").as("w"))).as("arr")),
        "arr", "id", "w", k)
        .select("id", "w", "pri", "w_hat")
        .as[(Long, Long, Double, Double)].collect().toSet
    try {
      rows.grouped(120).foldLeft(Seq.empty[(Long, Long)]) { (seen, chunk) =>
        in.addData(chunk); q.processAllAvailable()
        val prefix = seen ++ chunk
        val batch = Sampling.prioritySample(
          prefix.toDF("id", "w"), "id", "w", k)
          .as[(Long, Long, Double, Double)].collect().toSet
        // Complete mode: the sink snapshot IS the current state
        assert(finish(spark.table("psample_sink")) == batch,
          s"streamed state diverged from batch pick at prefix ${prefix.size}")
        prefix
      }
    } finally q.stop()
  }

  test("foldUdaf: a Fold as a SQL-callable aggregate on batch data") {
    val meanUdaf = StreamingAgg.foldUdaf(Folds.mean)
    val got = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
      .groupBy("k").agg(meanUdaf(col("v")).as("m"))
      .orderBy("k").as[(String, Double)].collect().toSeq
    assert(got == Seq(("a", 2.0), ("b", 10.0)))
  }

  test("curationSink: the full maintenance loop as one stream equals the one-shot closure + pick") {
    import graft.ext.{Components, Dedup}
    import graft.sources.TxLog
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    def feedOf(lo: Long, hi: Long) = docs
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .as[(Long, String)].collect().toSeq
    val scoreOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
    val base = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val name = "curation_spec_idx"
    // from-scratch stream: the index exists but is empty
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    val in = MemoryStream[(Long, String)]
    val q = StreamingAgg.curationSink(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", scoreOf, "q", name,
      s"$base/pairs", s"$base/assign", s"$base/surv",
      checkpointDir = Some(s"$base/ckpt"), minJaccard = 0.5)
    try {
      for ((lo, hi) <- Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue))) {
        in.addData(feedOf(lo, hi)); q.processAllAvailable()
      }
    } finally q.stop()
    try {
      // one-shot truth over the whole corpus with the same scores
      val pairs = Dedup.lshPairs(docs, "doc_id", "text", minJaccard = 0.5)
      val nodes = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      val comp = Components.connectedComponents(pairs, "id_a", "id_b", nodes, "doc_id")
      val oneShot = comp.join(scoreOf(comp.select("doc_id")), "doc_id")
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("survivor_id"))
        .select("component", "survivor_id", "n_members")
        .as[(Long, Long, Long)].collect().toSet
      assert(oneShot.nonEmpty, "corpus must contain near-dup clusters for this spec to bite")
      val resolved = Components.resolveSurvivors(
          TxLog.readCommitted(spark, s"$base/surv"), "batch")
        .as[(Long, Long, Long)].collect().toSet
      assert(resolved == oneShot,
        s"streamed survivor log must resolve to the one-shot pick\n got: $resolved\n want: $oneShot")
      // assignment log resolves to the one-shot closure, too
      val assigns = Components.resolveAssignments(
          TxLog.readCommitted(spark, s"$base/assign"), "doc_id", "batch")
        .as[(Long, Long)].collect().toSet
      val compSet = comp.as[(Long, Long)].collect().toSet
      assert(assigns == compSet)
      // the survivor log stayed a DELTA log: its total rows are the
      // per-batch touched+tombstone appends, not 3 rewrites of the
      // cluster table (strictly fewer than 3x the final cluster count
      // would already prove no rewrite; touched-only is tighter still)
      val logRows = TxLog.readCommitted(spark, s"$base/surv").count()
      assert(logRows < 3L * oneShot.size,
        s"survivor log has $logRows rows for ${oneShot.size} clusters over 3 batches - looks like per-batch rewrites")
      // a replayed batch is a no-op at every layer: ingest refuses at
      // the index marker, and both logs refuse at their own markers
      val last = feedOf(c2, Long.MaxValue).toDF("doc_id", "text")
      assert(!Dedup.ingestBatchIntoIndexTx(last, 3L, "doc_id", "text",
        name, s"$base/pairs", minJaccard = 0.5))
      assert(TxLog.isCommitted(spark, s"$base/assign", 3L))
      assert(TxLog.isCommitted(spark, s"$base/surv", 3L))
    } finally {
      graft.sources.Tables.dropWithLocation(spark, s"${name}_bands")
      graft.sources.Tables.dropWithLocation(spark, s"${name}_shingles")
      graft.sources.Tables.dropWithLocation(spark, s"${name}_batches")
    }
  }

  test("curationStep: a crash between ANY two layer commits converges on restart") {
    // the partial-batch crash production actually hits: the step
    // commits four TxLog layers in order (pairs → assign → survivors
    // → emit), and a crash between two of them leaves earlier layers
    // committed, later ones absent.  Inject the crash at each
    // inter-layer point via the layerHook seam (deterministic, no
    // timing), re-run the step (the restart), and require the final
    // state of EVERY log to equal a never-crashed control run's —
    // row-for-row, so a double-append (not just a wrong resolution)
    // fails the spec.
    import graft.ext.Dedup
    import graft.sources.TxLog
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(col("doc_id") < 250)
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    val b1 = docs.where(col("doc_id") < mid)
    val b2 = docs.where(col("doc_id") >= mid)
    val scoreOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
    case class Crash(layer: String) extends RuntimeException(s"injected@$layer")
    def run(tag: String, crashAt: Option[String]): Map[String, Seq[String]] = {
      val base = java.nio.file.Files.createTempDirectory(s"curcrash_$tag").toString
      val name = s"curcrash_${tag}_idx"
      Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
      try {
        def step(b: org.apache.spark.sql.DataFrame, k: Long,
            hook: (String, Long) => Unit): Unit =
          StreamingAgg.curationStep(b, k, "doc_id", "text", scoreOf, "q",
            name, s"$base/pairs", s"$base/assign", s"$base/surv",
            emitDir = Some(s"$base/emit"), minJaccard = 0.5,
            layerHook = hook)
        step(b1, 1L, (_, _) => ())
        crashAt.foreach { layer =>
          val ex = intercept[Crash](step(b2, 2L,
            (l, k) => if (l == layer && k == 2L) throw Crash(l)))
          assert(ex.layer == layer)
        }
        step(b2, 2L, (_, _) => ()) // the restart (or the only run)
        Seq("pairs", "assign", "surv", "emit").map(l =>
          l -> TxLog.readCommitted(spark, s"$base/$l")
            .collect().map(_.toString).sorted.toSeq).toMap
      } finally Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches")
        .foreach(graft.sources.Tables.dropWithLocation(spark, _))
    }
    val control = run("ctl", None)
    assert(control("pairs").nonEmpty && control("emit").nonEmpty,
      "the corpus slice must produce pairs for this spec to bite")
    for (layer <- Seq("pairs", "assign", "survivors", "emit")) {
      val crashed = run(layer, Some(layer))
      for (log <- Seq("pairs", "assign", "surv", "emit"))
        assert(crashed(log) == control(log),
          s"crash after '$layer': $log log diverged from the clean run " +
            s"(${crashed(log).size} vs ${control(log).size} rows)")
    }
  }

  test("curationStep: one incremental batch runs a bounded number of Spark jobs") {
    // the curation sink is bound by per-job overhead at micro-batch
    // sizes, so its job count is the cost figure that does not drift:
    // each O(batch) frame is materialized once (74 jobs per batch
    // before that rework, 45 after).  A new job on this path — a
    // second resolve, a re-shingled batch, a schema-inference read —
    // trips the ceiling
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(col("doc_id") < 250)
    val mid = docs.select("doc_id").as[Long].collect().sorted.apply(125)
    val scoreOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
    val base = java.nio.file.Files.createTempDirectory("curjobs").toString
    val name = "curjobs_idx"
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    def step(b: org.apache.spark.sql.DataFrame, k: Long,
        hook: (String, Long) => Unit): Unit =
      StreamingAgg.curationStep(b, k, "doc_id", "text", scoreOf, "q",
        name, s"$base/pairs", s"$base/assign", s"$base/surv",
        emitDir = Some(s"$base/emit"), minJaccard = 0.5, layerHook = hook)
    try {
      // batch 1 takes the bootstrap path; batch 2 is the measured one
      step(docs.where(col("doc_id") < mid), 1L, (_, _) => ())
      val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val window = graft.obs.Counters.open(spark)
      try step(docs.where(col("doc_id") >= mid), 2L,
        (layer, _) => perLayer(layer) = window.cut().jobs)
      finally window.close()
      val total = perLayer.values.sum
      info(s"jobs per layer: ${perLayer.mkString(", ")}; total $total")
      assert(perLayer.keySet == Set("pairs", "assign", "survivors", "emit"))
      assert(total <= 48, s"one incremental curationStep batch ran $total Spark " +
        s"jobs (${perLayer.mkString(", ")}), over the ceiling of 48")
    } finally Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("passageIndexSink warns (default-on) when a streamed batch runs " +
      "under the amortization cadence; the batch ingest stays opt-in") {
    import graft.ext.Decontaminate
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val name = "cadence_spec_idx"
    val base = java.nio.file.Files.createTempDirectory("cadence_spec").toString
    Decontaminate.writePassageIndex(docs, "doc_id", "text", name)
    try {
      val maxId = docs.agg(max(col("doc_id"))).as[Long].head()
      // fixture guard: a 2-gram batch against this index IS lagged
      val keeperRows = spark.table(s"${name}_keepers").count()
      assert(Decontaminate.cadenceLagged(2L, keeperRows),
        s"fixture: $keeperRows keeper rows must dwarf a 2-gram batch")
      val tiny = (maxId + 1L,
        "t1 t2 t3 t4 t5 t6 t7 t8 t9") // 9 tokens → 2 grams at n = 8
      val before = Decontaminate.cadenceWarnCount.get()
      val in = MemoryStream[(Long, String)]
      val q = StreamingAgg.passageIndexSink(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", name, s"$base/clean")
      try { in.addData(Seq(tiny)); q.processAllAvailable() } finally q.stop()
      assert(Decontaminate.cadenceWarnCount.get() > before,
        "the streamed sink must fire the cadence warning by default")
      // the batch-driven ingest keeps cadenceCheck opt-in (default
      // false): same under-cadence shape, no warning
      val mid = Decontaminate.cadenceWarnCount.get()
      assert(Decontaminate.ingestPassageBatch(
        Seq((maxId + 2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
          .toDF("doc_id", "text"),
        1L, "doc_id", "text", name, s"$base/clean"))
      assert(Decontaminate.cadenceWarnCount.get() == mid,
        "the batch ingest must not warn unless cadenceCheck is passed")
    } finally Seq(s"${name}_keepers", s"${name}_pstats", s"${name}_batches")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }
}
