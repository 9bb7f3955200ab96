package graft.tools

import graft.GraftSession
import graft.ext.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.functions._

/** Measures the incremental-index claim in SCALE.md: probing a stored
  * LSH index with a new batch vs recomputing the full corpus, on a
  * synthetic corpus big enough for the asymmetry to show (the gate's
  * documents table is a fixed 500 rows).
  * Usage: runMain graft.tools.IndexBench [corpusDocs] [batchDocs]
  *
  * Growth mode — the measured curve behind "per-batch cost is
  * O(batch + candidates), not O(corpus)": build the index at a base
  * size, probe a FIXED batch, grow the index to 4x and 16x via
  * appends, re-probe the same-size batch at each point.  A flat-ish
  * probe time as the index grows 16x is the claim, measured.
  * Usage: runMain graft.tools.IndexBench growth [baseDocs] [batchDocs]
  */
object IndexBench {
  private def session(): SparkSession = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Counts Spark jobs from here on; each call of the returned
    * function gives the jobs started since the previous call. */
  private def jobWindow(spark: SparkSession): () => Long = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    var last = 0L
    () => {
      Bridge.drainListenerBus(spark)
      val now = jobs.get(); val d = now - last; last = now; d
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("growth")) return growth(
      if (args.length > 1) args(1).toInt else 20000,
      if (args.length > 2) args(2).toInt else 500)
    if (args.headOption.contains("bm25")) return bm25Growth(
      if (args.length > 1) args(1).toInt else 20000,
      if (args.length > 2) args(2).toInt else 500,
      if (args.length > 3) args(3).toInt else 32)
    if (args.headOption.contains("hybrid")) return hybridGrowth(
      if (args.length > 1) args(1).toInt else 20000)
    if (args.headOption.contains("passage")) return passageGrowth(
      if (args.length > 1) args(1).toInt else 20000,
      if (args.length > 2) args(2).toInt else 500)
    if (args.headOption.contains("pasbloom")) return passageBloom(
      if (args.length > 1) args(1).toInt else 2000000,
      if (args.length > 2) args(2).toInt else 2000)
    if (args.headOption.contains("hygiene")) return hygieneGrowth(
      if (args.length > 1) args(1).toInt else 10000,
      if (args.length > 2) args(2).toInt else 500)
    if (args.headOption.contains("repairids")) return repairIdsBoundary(
      if (args.length > 1) args(1).toInt else 2000000)
    if (args.headOption.contains("purge")) return purgeBench(
      if (args.length > 1) args(1).toInt else 10000,
      if (args.length > 2) args(2).toInt else 500)
    if (args.headOption.contains("familypurge")) return familyPurgeBench(
      if (args.length > 1) args(1).toInt else 10000)
    val nCorpus = if (args.nonEmpty) args(0).toInt else 20000
    val nBatch = if (args.length > 1) args(1).toInt else 500
    val spark = session()

    // deterministic pseudo-text: 8 md5 words per doc (~260 chars),
    // near-random shingle sets → realistic sparse LSH collisions
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat_ws(" ",
        (0 to 7).map(k => md5(concat(col("id"), lit(s"_$k")))): _*).as("text"))
    val corpus = docs(0L, nCorpus.toLong)
    val batch = docs(nCorpus.toLong, (nCorpus + nBatch).toLong)

    def best2(label: String)(f: => Any): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label: ${ts.min}%.2f s (best of 2)")
    }
    def once(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    best2(f"full_recompute  corpus=${nCorpus + nBatch}%d") {
      val p = Dedup.lshPairs(corpus.unionByName(batch), "id", "text")
      p.count(); Dedup.unpersistInputsOf(p)
    }
    once(f"index_build     corpus=$nCorpus%d (one-time)") {
      Dedup.writeLshIndex(corpus, "id", "text", "ixbench_idx")
    }
    best2(f"probe_batch     batch=$nBatch%d") {
      val p = Dedup.lshPairsAgainstIndex(batch, "id", "text", "ixbench_idx")
      p.count(); Dedup.unpersistInputsOf(p)
    }
    spark.stop()
  }

  private def growth(base: Int, nBatch: Int): Unit = {
    val spark = session()
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat_ws(" ",
        (0 to 7).map(k => md5(concat(col("id"), lit(s"_$k")))): _*).as("text"))
    // the probe batch's ids sit far above any index id and are NEVER
    // appended, so each size point probes the identical workload
    val probe = docs(1L << 40, (1L << 40) + nBatch)
    def probeTime(): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val p = Dedup.lshPairsAgainstIndex(probe, "id", "text", "ixgrow_idx")
        p.count(); Dedup.unpersistInputsOf(p)
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    Dedup.writeLshIndex(docs(0L, base.toLong), "id", "text", "ixgrow_idx")
    var size = base.toLong
    println(f"index_size=$size%8d  probe_s=${probeTime()}%.2f")
    Seq(4, 16).zipWithIndex.foreach { case (mult, i) =>
      val target = base.toLong * mult
      Dedup.appendToLshIndex(docs(size, target), i.toLong, "id", "text", "ixgrow_idx")
      size = target
      println(f"index_size=$size%8d  probe_s=${probeTime()}%.2f")
    }
    spark.stop()
  }

  /** BM25-index growth curve — the measured claim behind
    * `Retrieval.compactBm25Index`: every `appendBm25Batch` lands
    * ~tasks×buckets new files per table and the probe reads every
    * partition of its pruned buckets, so probe wall time grows with
    * batches-since-compaction; ONE fold restores the bootstrap-sized
    * probe.  Probes a FIXED query workload at batch checkpoints
    * {1, 8, batches}, then compacts and re-probes.
    * Usage: runMain graft.tools.IndexBench bm25 [baseDocs] [batchDocs] [batches]
    */
  private def bm25Growth(base: Int, nBatch: Int, batches: Int): Unit = {
    val spark = session()
    import graft.ext.Retrieval
    // deterministic pseudo-text over a 5,000-term vocabulary: 30
    // tokens per doc, term = "w" + (id * prime) % 5000 — every doc
    // hits ~30 distinct terms, so df values are realistic and the
    // probe's terms have non-trivial postings at every size point
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat_ws(" ", (0 until 30).map(k =>
        concat(lit("w"), pmod(col("id") * lit(31 + k), lit(5000)))): _*)
        .as("text"))
    import spark.implicits._
    val queries = Seq(("q1", "w17"), ("q1", "w233"), ("q2", "w999"),
      ("q2", "w4242"), ("q3", "w5"), ("q3", "w1717")).toDF("qid", "term")
    val name = "bm25grow_idx"
    def files(tbl: String): Long = {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    def probeTime(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Retrieval.bm25TopKFromIndex(spark, name, queries, "qid", "term", 10)
          .count()
        (System.nanoTime() - t0) / 1e9
      }.min
    def point(label: String): Unit =
      println(f"$label%-28s probe_s=${probeTime()}%.2f " +
        f"postings_files=${files(s"${name}_postings")}%d")
    Retrieval.writeBm25Index(docs(0L, base.toLong), "id", "text", name)
    point(s"bootstrap n=$base")
    val checkpoints = Set(1, 8, batches)
    for (b <- 0 until batches) {
      val lo = base.toLong + b.toLong * nBatch
      Retrieval.ingestBm25Batch(docs(lo, lo + nBatch), b.toLong, "id",
        "text", name)
      if (checkpoints(b + 1)) point(s"batches=${b + 1}")
    }
    val t0 = System.nanoTime()
    Retrieval.compactBm25Index(spark, name)
    println(f"compact_s=${(System.nanoTime() - t0) / 1e9}%.2f")
    point("post-compaction")
    spark.stop()
  }

  /** Hybrid-fusion growth curve — the measured claim behind q117:
    * the fused probe (BM25 postings probe + IVF ANN probe + RRF over
    * the two bounded rank lists) costs O(query postings + probed
    * cells), INDEPENDENT of corpus size.  Builds both indexes at a
    * base size, probes a fixed workload, grows the corpus to 4x and
    * 16x via frozen-codebook / marker-gated appends, COMPACTS both
    * indexes at each checkpoint (so file-count growth — the separate,
    * already-measured compaction story — cannot pollute the slope),
    * and re-probes.  A flat-ish fused probe time across 16x corpus
    * growth is the claim, measured.
    * Usage: runMain graft.tools.IndexBench hybrid [baseDocs]
    */
  private def hybridGrowth(base: Int): Unit = {
    val spark = session()
    import graft.ext.{AnnIndex, Retrieval}
    import spark.implicits._
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat_ws(" ", (0 until 30).map(k =>
        concat(lit("w"), pmod(col("id") * lit(31 + k), lit(5000)))): _*)
        .as("text"))
    // deterministic dense embeddings, 64 dims — cheap to generate,
    // non-degenerate cosines (sin of id-scaled frequencies).
    // MATERIALIZED before use: an unmaterialized array expression fed
    // into the index's HOF lambdas re-evaluates per element on
    // Catalyst's interpreted HOF path (the TextOps two-step lesson —
    // measured here as a >100x bootstrap blowup)
    def embs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      array((0 until 64).map(k =>
        sin(col("id").cast("double") * lit(0.1 * (k + 1)) + lit(k))): _*)
        .as("v"))
      .localCheckpoint()
    val queries = Seq(("q1", "w17"), ("q1", "w233"), ("q2", "w999"),
      ("q2", "w4242"), ("q3", "w5"), ("q3", "w1717")).toDF("qid", "term")
    val probeIds = Seq(1L, 2L, 3L)
    val (bmName, annName) = ("hybgrow_bm25", "hybgrow_ann")
    def probeTime(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val bm = Retrieval.bm25TopKFromIndex(spark, bmName, queries,
            "qid", "term", 10)
          .select(col("qid"), col("id"), col("rank").as("r"))
        val ann = AnnIndex.annTopKFromIndex(spark, annName, probeIds, 10, 4)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
              .orderBy(col("sim").desc, col("neighbor_id").asc)).cast("long"))
          .join(probeIds.zip(Seq("q1", "q2", "q3")).toDF("vec_id", "qid"),
            Seq("vec_id"))
          .select(col("qid"), col("neighbor_id").as("id"), col("r"))
        Retrieval.rrfFuse(bm, ann, "qid", "id", "r", 10).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    Retrieval.writeBm25Index(docs(0L, base.toLong), "id", "text", bmName)
    // 16 centroids = the gate/q113 knob: assignCell embeds the
    // codebook as literals, so centroid count scales the projection's
    // expression size — 16×64 dims stays inside what codegen JITs
    AnnIndex.writeAnnIndex(embs(0L, base.toLong), "id", "v", annName, 16, 2)
    println(f"bootstrap n=$base%-8d fused_probe_s=${probeTime()}%.2f")
    var size = base.toLong
    var batchId = 0L
    def growTo(target: Long, label: String): Unit = {
      while (size < target) {
        Retrieval.ingestBm25Batch(docs(size, size + base), batchId, "id",
          "text", bmName)
        AnnIndex.ingestAnnBatch(embs(size, size + base), batchId, "id",
          "v", annName)
        size += base; batchId += 1
      }
      Retrieval.compactBm25Index(spark, bmName)
      AnnIndex.compactAnnIndex(spark, annName)
      println(f"$label n=$size%-8d fused_probe_s=${probeTime()}%.2f")
    }
    growTo(4L * base, "grown-4x ")
    growTo(16L * base, "grown-16x")
    spark.stop()
  }

  /** Passage-keeper-index ingest curve — the HONEST cost statement
    * for `Decontaminate.ingestPassageBatch`: the stored keeper table
    * is never shuffled or rewritten, but the per-batch probe SCANS
    * it (batch gram hashes hit every bucket), so ingest wall time
    * grows with index size — the operational answer is batch sizing
    * (amortize the scan) + compaction (keep the scan one file per
    * bucket), not a smaller scan.  Ingests a FIXED batch size as the
    * index grows 4x/16x (compacted at each checkpoint) and reports
    * per-batch ingest seconds at each point.
    * Usage: runMain graft.tools.IndexBench passage [baseDocs] [batchDocs]
    */
  private def passageGrowth(base: Int, nBatch: Int): Unit = {
    val spark = session()
    import graft.ext.Decontaminate
    // mostly-novel tokens so the keeper table GROWS with the corpus
    // (a small shared vocabulary saturates distinct grams and the
    // scan-cost curve flattens for the wrong reason): every doc
    // contributes ~23 brand-new grams to the index
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat_ws(" ", (0 until 30).map(k =>
        concat(lit("w"), col("id") * 30 + lit(k))): _*)
        .as("text"))
    val name = "pasgrow_idx"
    val cleanDir = java.nio.file.Files.createTempDirectory("pasgrow_clean")
      .toString
    Decontaminate.writePassageIndex(docs(0L, base.toLong), "id", "text", name)
    var size = base.toLong
    var batchId = 0L
    def ingestOne(): Double = {
      val t0 = System.nanoTime()
      Decontaminate.ingestPassageBatch(docs(size, size + nBatch), batchId,
        "id", "text", name, cleanDir)
      size += nBatch; batchId += 1
      (System.nanoTime() - t0) / 1e9
    }
    def point(label: String): Unit =
      println(f"$label n=$size%-8d ingest_s=${ingestOne()}%.2f " +
        f"(batch=$nBatch, keepers=${spark.table(s"${name}_keepers").count()}%d)")
    point("bootstrap")
    def growTo(target: Long, label: String): Unit = {
      while (size < target - nBatch) {
        val step = math.min(base.toLong, target - nBatch - size)
        Decontaminate.ingestPassageBatch(docs(size, size + step), batchId,
          "id", "text", name, cleanDir)
        size += step; batchId += 1
      }
      Decontaminate.compactPassageIndex(spark, name)
      point(label)
    }
    growTo(4L * base, "grown-4x ")
    growTo(16L * base, "grown-16x")
    growTo(64L * base, "grown-64x")
    // amortization check at the same index size: a batch sized
    // PROPORTIONAL to the index (base docs instead of nBatch) — the
    // contract that keeps PER-DOC cost flat as the index ages
    val t0 = System.nanoTime()
    Decontaminate.ingestPassageBatch(docs(size, size + base), batchId,
      "id", "text", name, cleanDir)
    val tb = (System.nanoTime() - t0) / 1e9
    println(f"grown-64x proportional batch=$base ingest_s=$tb%.2f " +
      f"per_doc_ms=${tb * 1000.0 / base}%.3f")
    spark.stop()
  }

  /** The SUSTAIN curve for the composed hygiene pipeline (q123's
    * machinery): per-batch `Hygiene.hygieneStep` wall time as the
    * corpus grows 4x/16x, compacted at each checkpoint.  The corpus
    * mixes uniques with near-duplicates whose synthetic quality
    * sometimes beats the original — every measured point exercises
    * LSH probe + closure delta + DEMOTION-TRANSFER repair + keeper
    * probe + mutable-BM25 deltas + the flag probe, the full
    * composition, not just the happy path.
    * Usage: runMain graft.tools.IndexBench hygiene [baseDocs] [batchDocs]
    */
  private def hygieneGrowth(base: Int, nBatch: Int): Unit = {
    val spark = session()
    import graft.ext.{Dedup, Hygiene}
    import graft.ext.Hygiene.HygieneState
    // every 10th doc (id % 10 == 9, id >= 20) near-copies doc id-19:
    // 30 shared tokens + a distinct tail → an LSH pair; quality
    // q = id % 13 means the copy sometimes WINS the re-pick and
    // demotes the original (the transfer path).  Two common tokens
    // per doc give the benchmark queries real postings.
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
      "id AS doc_id",
      ("concat(concat_ws(' ', " +
        (0 until 30).map(k =>
          s"concat('w', (CASE WHEN id % 10 = 9 AND id >= 20 " +
            s"THEN id - 19 ELSE id END) * 30 + $k)").mkString(", ") +
        "), CASE WHEN id % 10 = 9 AND id >= 20 THEN concat(' dup', id) " +
        "ELSE '' END, ' common', id % 5, ' shared', id % 3) AS text"))
    var stormBoostLo = Long.MaxValue // storm docs always win the re-pick
    def scoresFor(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("doc_id")).distinct()
        .selectExpr("doc_id", s"CASE WHEN doc_id >= ${stormBoostLo}L " +
          "THEN 1000.0 ELSE CAST(doc_id % 13 AS DOUBLE) END AS q")
    val allDocs = docs(0L, 64L * base) // superset for raw-text lookups
    def rawTextFor(ids: org.apache.spark.sql.DataFrame) =
      allDocs.join(org.apache.spark.sql.functions.broadcast(
        ids.select(col("doc_id"))), Seq("doc_id"), "left_semi")
    val bench = spark.range(3).selectExpr("concat('q', id) AS query_id",
      "concat('common', id) AS term")
    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(s"hyggrow_$n").toString
    val st = HygieneState("hyggrow", dir("pairs"), dir("assign"),
      dir("surv"), dir("emit"), dir("clean"), dir("flag"))
    // a crashed/killed earlier run leaves its managed-table locations
    // behind — drop them (metadata AND location) or the first write
    // dies with LOCATION_ALREADY_EXISTS
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    Dedup.writeLshIndex(allDocs.where(lit(false)), "doc_id", "text",
      st.lshName)
    graft.sources.Tables.dropWithLocation(spark, s"${st.lshName}_batches")
    var size = 0L
    var batchId = 0L
    // per-step Spark JOB count: small batches are latency-floored by
    // the composition's fixed action count, not data volume — measure
    // it so the floor is a number, not a guess (round-14 ask)
    val stepJobs = jobWindow(spark)
    def step(n: Long): Double = {
      val t0 = System.nanoTime()
      Hygiene.hygieneStep(docs(size, size + n), batchId, "doc_id", "text",
        scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
        10, 0.0001, minJaccard = 0.5)
      size += n; batchId += 1
      (System.nanoTime() - t0) / 1e9
    }
    step(base.toLong)
    def point(label: String): Unit = {
      stepJobs() // reset the counter window to this step alone
      val t = step(nBatch.toLong)
      println(f"$label n=$size%-8d step_s=$t%.2f " +
        f"(batch=$nBatch, jobs=${stepJobs()}%d, " +
        f"keepers=${spark.table(st.pk).count()}%d, " +
        f"postings=${spark.table(st.bmp).count()}%d)")
    }
    point("bootstrap")
    def growTo(target: Long, label: String): Unit = {
      while (size < target - nBatch)
        step(math.min(base.toLong, target - nBatch - size))
      Hygiene.compactHygiene(spark, st)
      point(label)
    }
    growTo(4L * base, "grown-4x ")
    growTo(16L * base, "grown-16x")
    // ---- adversarial demotion-storm point (round-14) -------------------
    // One batch of near-copies of nStorm DISTINCT stored survivors
    // (targets t ≡ 1 mod 10, never organically duplicated), quality-
    // boosted so every copy wins its re-pick: a hub-shaped batch that
    // demotes nStorm stored survivors AT ONCE.  Their passages have
    // no other marked holder, so each transfer is a tombstone +
    // same-batch re-own — the heaviest repair shape.  Forced through
    // the DISTRIBUTED repair path (maxDriverRepairIds = 100 <<
    // nStorm), the driver-safety dispatch the organic curve never
    // triggers.
    val nStorm = math.min(4L * nBatch, 2000L)
    val stormLo = size
    val stormBatch = spark.range(stormLo, stormLo + nStorm).selectExpr(
      "id AS doc_id",
      ("concat(concat_ws(' ', " +
        (0 until 30).map(k =>
          s"concat('w', ((id - ${stormLo}L) * 10 + 1) * 30 + $k)")
          .mkString(", ") +
        "), ' storm', id, ' common', id % 5, ' shared', id % 3) AS text"))
    stormBoostLo = stormLo
    stepJobs()
    val t0 = System.nanoTime()
    Hygiene.hygieneStep(stormBatch, batchId, "doc_id", "text",
      scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
      10, 0.0001, minJaccard = 0.5, maxDriverRepairIds = 100)
    val stormS = (System.nanoTime() - t0) / 1e9
    val stormJobs = stepJobs()
    val demoted = graft.sources.TxLog.readBatch(spark, st.emitDir, batchId)
      .where(!col("kept")).count()
    size += nStorm; batchId += 1
    println(f"storm     n=$size%-8d step_s=$stormS%.2f " +
      f"(batch=$nStorm, jobs=$stormJobs%d, demotions=$demoted, " +
      "join-path forced)")
    spark.stop()
  }

  /** The purge/takedown cost curve (round-15 ask): grow the same
    * hygiene instance hygieneGrowth uses to 16x, then purge m ∈
    * {1, 100, 2000} stored docs, measuring `Purge.purgeDocs` and the
    * erasing `compactHygiene` SEPARATELY (wall + Spark jobs each).
    * q124 proves purge correctness; this puts the "storm-shaped by
    * construction" cost claim on a measured curve next to the
    * hygiene sustain numbers.  Purged ids are ordinary stored docs
    * (≡ 3 mod 10 — never near-dup copies or their targets), disjoint
    * across the three points, all at or below the high-water mark.
    * Usage: runMain graft.tools.IndexBench purge [baseDocs] [batchDocs]
    */
  private def purgeBench(base: Int, nBatch: Int): Unit = {
    val spark = session()
    import graft.ext.{Dedup, Hygiene, Purge}
    import graft.ext.Hygiene.HygieneState
    // the hygieneGrowth corpus generator, verbatim (same dup pattern,
    // same postings-bearing common tokens)
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
      "id AS doc_id",
      ("concat(concat_ws(' ', " +
        (0 until 30).map(k =>
          s"concat('w', (CASE WHEN id % 10 = 9 AND id >= 20 " +
            s"THEN id - 19 ELSE id END) * 30 + $k)").mkString(", ") +
        "), CASE WHEN id % 10 = 9 AND id >= 20 THEN concat(' dup', id) " +
        "ELSE '' END, ' common', id % 5, ' shared', id % 3) AS text"))
    def scoresFor(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("doc_id")).distinct()
        .selectExpr("doc_id", "CAST(doc_id % 13 AS DOUBLE) AS q")
    val allDocs = docs(0L, 64L * base)
    def rawTextFor(ids: org.apache.spark.sql.DataFrame) =
      allDocs.join(org.apache.spark.sql.functions.broadcast(
        ids.select(col("doc_id"))), Seq("doc_id"), "left_semi")
    val bench = spark.range(3).selectExpr("concat('q', id) AS query_id",
      "concat('common', id) AS term")
    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(s"purgebench_$n").toString
    val st = HygieneState("purgebench", dir("pairs"), dir("assign"),
      dir("surv"), dir("emit"), dir("clean"), dir("flag"))
    (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
      s"${st.lshName}_batches")).foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    Dedup.writeLshIndex(allDocs.where(lit(false)), "doc_id", "text",
      st.lshName)
    graft.sources.Tables.dropWithLocation(spark, s"${st.lshName}_batches")
    val windowJobs = jobWindow(spark)
    var size = 0L
    var batchId = 0L
    def step(n: Long): Unit = {
      Hygiene.hygieneStep(docs(size, size + n), batchId, "doc_id", "text",
        scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
        10, 0.0001, minJaccard = 0.5)
      size += n; batchId += 1
    }
    step(base.toLong)
    while (size < 16L * base) step(math.min(base.toLong, 16L * base - size))
    windowJobs()
    val tb = System.nanoTime()
    Hygiene.compactHygiene(spark, st) // a purge-FREE baseline fold —
    val baseS = (System.nanoTime() - tb) / 1e9 // the erase rows below
    val baseJobs = windowJobs() // are read against this number
    println(f"grown     n=$size%-8d (16x base; purge-free fold " +
      f"baseline_s=$baseS%.2f jobs=$baseJobs%d)")
    var cursor = 0L
    for (m <- Seq(1L, 100L, 2000L)) {
      val ids = spark.range(cursor, cursor + m)
        .select((col("id") * 10L + 3L).as("doc_id")).localCheckpoint()
      cursor += m
      windowJobs()
      val t0 = System.nanoTime()
      require(Purge.purgeDocs(ids, batchId, "doc_id", "text",
        scoresFor _, "q", rawTextFor _, st, bench, "query_id", "term",
        10, 0.0001), "purge batch must run")
      batchId += 1
      val purgeS = (System.nanoTime() - t0) / 1e9
      val purgeJobs = windowJobs()
      val t1 = System.nanoTime()
      Hygiene.compactHygiene(spark, st, graceMs = 0L)
      val eraseS = (System.nanoTime() - t1) / 1e9
      val eraseJobs = windowJobs()
      Purge.assertPurged(spark, st, ids, "doc_id")
      println(f"purge m=$m%-5d purge_s=$purgeS%.2f jobs=$purgeJobs%d  " +
        f"erase_compact_s=$eraseS%.2f jobs=$eraseJobs%d")
    }
    spark.stop()
  }

  /** The parquet-bloom lever for the keeper-probe scan, measured
    * honestly (round-13 ask): write the SAME keeper table with and
    * without column bloom filters on `h`, probe both with a pushed
    * literal `h IN (...)` set, and report wall time + input bytes.
    * Expectation to verify, not assume: a BATCH-sized probe set
    * (tens of thousands of uniform hashes) hits every row group, so
    * bloom skipping cannot trigger on the real ingest join — the
    * lever only pays off for FEW-value probes.
    * Usage: runMain graft.tools.IndexBench pasbloom [rows] [probes]
    */
  private def passageBloom(rows: Int, probes: Int): Unit = {
    val spark = session()
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pasbloom").toString
    // uniform 60-bit hashes, the keeper table's real distribution
    val keepers = spark.range(rows.toLong)
      .select(xxhash64(col("id")).as("h"), col("id").as("keeper"))
    keepers.write.parquet(s"$dir/plain")
    keepers.write
      .option("parquet.bloom.filter.enabled#h", "true")
      .option("parquet.bloom.filter.expected.ndv#h", rows.toString)
      .parquet(s"$dir/bloom")
    // probe set drawn from stored hashes (the ingest join's hit case)
    val probeVals = spark.read.parquet(s"$dir/plain").limit(probes)
      .collect().map(_.getLong(0)).toSeq
    def measure(path: String, label: String): Unit = {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          bytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = spark.read.parquet(path)
        .where(col("h").isin(probeVals: _*)).count()
      val t = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
      println(f"$label rows=$rows probes=$probes matched=$n " +
        f"time_s=$t%.2f input_bytes=${bytes.get()}%,d")
    }
    // warm the page cache symmetrically, then measure each twice
    Seq("plain", "bloom").foreach { v =>
      measure(s"$dir/$v", s"$v-warmup"); measure(s"$dir/$v", s"$v      ")
    }
    spark.stop()
  }

  /** Justify (or right-size) `Hygiene.DefaultMaxDriverRepairIds`
    * with numbers (round-15 ask): at the ceiling's magnitude, what do
    * the literal fast path's three cost terms actually measure —
    * driver heap for the boxed id seq, plan build time for the
    * `isin`/InSet predicate, and the pushed-literal scan's wall —
    * and where does the distributed left_semi path cross over?
    * The probed table mimics the clean log (id + ~200-char text,
    * `rows` rows, parquet), the slice shape `cleanRowsForIds` probes.
    * Usage: runMain graft.tools.IndexBench repairids [rows]
    */
  private def repairIdsBoundary(rows: Int): Unit = {
    val spark = session()
    val dir = java.nio.file.Files.createTempDirectory("repairids").toString
    spark.range(rows.toLong).select(col("id"),
      concat_ws(" ",
        (0 to 5).map(k => md5(concat(col("id"), lit(s"_$k")))): _*).as("text"))
      .write.mode("overwrite").parquet(dir)
    val log = spark.read.parquet(dir)
    def median3(f: => Any): Double = {
      f // warmup
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }
    for (m <- Seq(10000, 100000, 200000, 400000)) {
      // ids spread across the table (row-group skipping gets no free
      // contiguity win — the honest shape of a demotion set)
      val stride = math.max(1L, rows.toLong / m)
      System.gc()
      val heap0 = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
      val ids: Seq[Any] = (0 until m).map(i => (i * stride): java.lang.Long)
      System.gc()
      val heapMb = ((Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) - heap0) / 1e6
      val planS = median3 {
        log.where(col("id").isin(ids: _*)).queryExecution.executedPlan
      }
      val litS = median3 {
        log.where(col("id").isin(ids: _*))
          .agg(count(lit(1)), sum(length(col("text")))).collect()
      }
      val idsDf = spark.range(m.toLong).select((col("id") * stride).as("id"))
      val joinS = median3 {
        log.join(idsDf, Seq("id"), "left_semi")
          .agg(count(lit(1)), sum(length(col("text")))).collect()
      }
      println(f"m=$m%-7d boxed=~$heapMb%.1f MB plan=$planS%.3f s " +
        f"literal_scan=$litS%.2f s semi_join=$joinS%.2f s")
    }
    spark.stop()
  }

  /** The STANDALONE-family purge cost curves (q125–q127's operators):
    * per family — BM25, IVF-ANN, LSH — grow an index to 16× base via
    * marker-gated ingests, take one purge-free compaction as the fold
    * baseline, then purge m ∈ {1, 2000} ids and measure retraction
    * wall+jobs and erasing-compaction wall+jobs, certificate
    * require()d each round.  The claim under test: the retraction is
    * O(purged batch) — BM25's is the only purge that SCANS text (the
    * negated ingest aggregation over the purged docs), ANN/LSH are
    * ledger-partition writes — and the erasing compaction rides the
    * scans the purge-free fold already does, independent of m.
    * Usage: runMain graft.tools.IndexBench familypurge [baseDocs] */
  private def familyPurgeBench(base: Int): Unit = {
    val spark = session()
    import graft.ext.{AnnIndex, Purge, Retrieval}
    val size = 16L * base
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 to 7).map(k => md5(concat(col("id"), lit(s"_$k")))): _*).as("text"))
    def embs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("vec_id"),
      // cos, not sin: id 0 must not be the all-zero vector (cosine
      // assignment divides by the norm)
      array((0 until 8).map(d =>
        cos(col("id") * lit(0.37 + d * 0.11)).cast("float")): _*)
        .as("embedding"))
    val windowJobs = jobWindow(spark)
    def timed(f: => Unit): (Double, Long) = {
      windowJobs()
      val t0 = System.nanoTime(); f
      ((System.nanoTime() - t0) / 1e9, windowJobs())
    }
    // purged-id schedule: disjoint across rounds, all < size (ingested)
    var cursor = 0L
    def purgeIds(m: Long): org.apache.spark.sql.DataFrame = {
      val ids = spark.range(cursor, cursor + m)
        .select((col("id") * 10L + 3L).as("id")).localCheckpoint()
      cursor += m; ids
    }

    // ---- BM25 ----
    val bm = "fpb_bm25"
    Seq("_postings", "_vocab", "_stats", "_batches", "_purged")
      .foreach(x => graft.sources.Tables.dropWithLocation(spark, s"$bm$x"))
    Retrieval.writeBm25Index(docs(0L, base.toLong), "doc_id", "text", bm)
    (1 to 15).foreach(i => require(Retrieval.ingestBm25Batch(
      docs(i.toLong * base, (i + 1).toLong * base), i.toLong,
      "doc_id", "text", bm)))
    val (bS, bJ) = timed(Retrieval.compactBm25Index(spark, bm))
    println(f"bm25  grown n=$size%-8d purge-free fold baseline_s=$bS%.2f jobs=$bJ%d")
    for (m <- Seq(1L, 2000L)) {
      val ids = purgeIds(m)
      val pdocs = docs(0L, size).join(broadcast(ids
        .select(col("id").as("doc_id"))), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val (pS, pJ) = timed(require(
        Purge.purgeBm25Index(pdocs, 100L + m, "doc_id", "text", bm)))
      val (eS, eJ) = timed(Retrieval.compactBm25Index(spark, bm))
      Purge.assertBm25Purged(spark, bm,
        ids.select(col("id").as("doc_id")), "doc_id")
      println(f"bm25  purge m=$m%-5d purge_s=$pS%.2f jobs=$pJ%d  " +
        f"erase_compact_s=$eS%.2f jobs=$eJ%d")
    }

    // ---- ANN ----
    cursor = 0L
    val an = "fpb_ann"
    Seq("_cells", "_codebook", "_batches", "_purged")
      .foreach(x => graft.sources.Tables.dropWithLocation(spark, s"$an$x"))
    AnnIndex.writeAnnIndex(embs(0L, base.toLong), "vec_id", "embedding",
      an, nCentroids = 16, kmeansIters = 2)
    (1 to 15).foreach(i => require(AnnIndex.ingestAnnBatch(
      embs(i.toLong * base, (i + 1).toLong * base), i.toLong,
      "vec_id", "embedding", an)))
    val (aS, aJ) = timed(AnnIndex.compactAnnIndex(spark, an))
    println(f"ann   grown n=$size%-8d purge-free fold baseline_s=$aS%.2f jobs=$aJ%d")
    for (m <- Seq(1L, 2000L)) {
      val ids = purgeIds(m)
      val (pS, pJ) = timed(require(
        Purge.purgeAnnIndex(spark, an, ids, "id", 100L + m)))
      val (eS, eJ) = timed(AnnIndex.compactAnnIndex(spark, an))
      Purge.assertAnnPurged(spark, an, ids, "id")
      println(f"ann   purge m=$m%-5d purge_s=$pS%.2f jobs=$pJ%d  " +
        f"erase_compact_s=$eS%.2f jobs=$eJ%d")
    }

    // ---- LSH (with a pairs table in the fold) ----
    cursor = 0L
    val ls = "fpb_lsh"
    val pairsT = "fpb_lsh_pairs"
    (Seq("_shingles", "_bands", "_batches", "_purged").map(ls + _)
      :+ pairsT).foreach(t => graft.sources.Tables.dropWithLocation(spark, t))
    Dedup.writeLshIndex(docs(0L, 0L), "doc_id", "text", ls)
    (0 to 15).foreach(i => require(Dedup.ingestBatchIntoIndex(
      docs(i.toLong * base, (i + 1).toLong * base), i.toLong,
      "doc_id", "text", ls, pairsT)))
    val (lS, lJ) = timed(
      Dedup.compactLshIndex(spark, ls, pairsTables = Seq(pairsT)))
    println(f"lsh   grown n=$size%-8d purge-free fold baseline_s=$lS%.2f jobs=$lJ%d")
    for (m <- Seq(1L, 2000L)) {
      val ids = purgeIds(m)
      val (pS, pJ) = timed(require(
        Purge.purgeLshIndex(spark, ls, ids, "id", 100L + m)))
      val (eS, eJ) = timed(
        Dedup.compactLshIndex(spark, ls, pairsTables = Seq(pairsT)))
      Purge.assertLshPurged(spark, ls, ids, "id", Seq(pairsT))
      println(f"lsh   purge m=$m%-5d purge_s=$pS%.2f jobs=$pJ%d  " +
        f"erase_compact_s=$eS%.2f jobs=$eJ%d")
    }
    spark.stop()
  }
}
