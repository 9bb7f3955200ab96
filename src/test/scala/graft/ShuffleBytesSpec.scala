package graft

import graft.queries.PipelineQueries
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-VOLUME regression gate, the byte-level companion of
  * PlanShapeSpec: a refactor can keep a plan's operator shape while
  * doubling the traffic through it (an extra column in the exchange,
  * a lost projection, a widened key).  These ceilings pin the bytes
  * the hottest pipeline operators actually shuffle at sf0.001, with
  * ~3× headroom over measured values so data-content jitter never
  * flakes the suite — a real regression (whole-array or whole-text
  * columns entering an exchange) blows past 3× immediately.
  *
  * Ceilings are for THIS fixed input (sf0.001, 32 shuffle
  * partitions); they gate relative regressions, not absolute cost.
  */
class ShuffleBytesSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  /** Total shuffle-write bytes across every stage `body` runs.
    * Shuffle write is counted (not read) so re-used exchanges aren't
    * double-billed. */
  private def shuffleBytes(body: => Unit): Long = {
    spark.catalog.clearCache() // cold operator, like Bench's timing
    graft.obs.Counters.of(spark)(body)._2.shuffleWriteBytes
  }

  private def assertCeiling(name: String, bytes: Long, ceiling: Long): Unit = {
    info(f"$name shuffled $bytes%,d bytes (ceiling $ceiling%,d)")
    assert(bytes <= ceiling,
      s"$name shuffled $bytes bytes, over the $ceiling ceiling — " +
        "a shape-preserving volume regression (extra exchange column, " +
        "lost projection, widened key?)")
    assert(bytes > 0, s"$name shuffled nothing — the measurement is broken")
  }

  test("q17 minhash-LSH: shuffle volume stays O(bands + pairs), not O(text)") {
    val b = shuffleBytes { PipelineQueries.q17(spark, sf).count() }
    assertCeiling("q17", b, 280 << 10) // measured 89,018
  }

  test("q72 incremental-index probe: batch-side-only shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.ext.Dedup.writeLshIndex(docs.where(col("doc_id") < 400),
      "doc_id", "text", "shufbytes_q72_idx")
    try {
      // the probe's contract: only the NEW batch's bands/shingles and
      // the candidate slice move — the stored index never reshuffles.
      // The batch has no size statistic, like a streaming micro-batch
      // (and PlanShapeSpec's q72 pin): a scan-backed batch lets the
      // planner broadcast the batch side, so the stored side could
      // never show up in these bytes
      val batch = spark.createDataFrame(docs.where(col("doc_id") >= 400).rdd, docs.schema)
      val b = shuffleBytes {
        graft.ext.Dedup.lshPairsAgainstIndex(
          batch, "doc_id", "text", "shufbytes_q72_idx").count()
      }
      assertCeiling("q72 probe", b, 192 << 10) // measured 120,298
    } finally Seq("shufbytes_q72_idx_bands", "shufbytes_q72_idx_shingles")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("q76 shuffle-shard: one hash exchange of (id, shard, pos)-width rows") {
    val b = shuffleBytes { PipelineQueries.q76(spark, sf).count() }
    assertCeiling("q76", b, 8 << 10) // measured 273 (one thin exchange)
  }

  test("incremental components: shuffle volume is O(batch), prior table never moves") {
    // a 200k-row prior (≈3.2 MB of (long, long) rows if it ever
    // entered an exchange) against a 3-edge batch: the measured
    // shuffle must stay in the root-closure's tiny-edge-set range —
    // if the prior's bytes appear, an orientation regression has put
    // the assignment table back into a shuffle
    import spark.implicits._
    val prior = spark.range(0, 200000)
      .selectExpr("id", "id - id % 4 AS component")
    val batch = Seq((1L, 101L), (201L, 301L), (999999L, 5L)).toDF("a", "b")
    val b = shuffleBytes {
      graft.ext.Components.incrementalComponentsDelta(
        prior, batch, "a", "b", "id").count()
    }
    assertCeiling("incremental delta", b, 64 << 10)
  }

  test("incremental survivors: shuffle is O(touched members), prior tables never move") {
    // 200k-row assignment table / 50k prior survivors vs a 2-row
    // delta: only the touched components' members may shuffle (the
    // re-pick agg) — if either prior table's bytes appear, a join
    // orientation regression is re-shuffling state per batch
    val assign = spark.range(0, 200000)
      .selectExpr("id", "id - id % 4 AS component")
    val priorSurv = spark.range(0, 200000, 4)
      .selectExpr("id AS component", "id + 1 AS survivor_id",
        "CAST(4 AS BIGINT) AS n_members")
    val delta = {
      import spark.implicits._
      Seq((17L, 16L), (999999L, 999999L)).toDF("id", "component")
    }
    val scores = assign
      .join(org.apache.spark.sql.functions.broadcast(
        delta.select(col("component")).distinct()), Seq("component"), "left_semi")
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS q")
      .union(delta.selectExpr("id", "CAST(id % 7 AS DOUBLE) AS q"))
      .localCheckpoint() // scope + materialize outside the measured body
    val b = shuffleBytes {
      graft.ext.Components.incrementalSurvivors(
        priorSurv, assign.unionByName(delta.selectExpr("id", "component")),
        delta, scores, "id", "q").count()
    }
    assertCeiling("incremental survivors", b, 64 << 10)
  }

  test("corpus-gate emission: per-batch shuffle is O(touched + batch), corpus never moves") {
    // 200k-row assignment table vs a 2-row delta and a 100-row
    // arriving batch: the emission may shuffle only the touched
    // members' ids and the batch's unpaired ids — the assignment
    // table streams past broadcasts, and no O(corpus) frame may
    // enter an exchange
    val assign = spark.range(0, 200000)
      .selectExpr("id", "id - id % 4 AS component")
    val delta = {
      import spark.implicits._
      Seq((17L, 16L), (999999L, 999999L)).toDF("id", "component")
    }
    val survBatch = {
      import spark.implicits._
      Seq((16L, java.lang.Long.valueOf(18L), 5L),
        (999999L, java.lang.Long.valueOf(999999L), 1L))
        .toDF("component", "survivor_id", "n_members")
    }
    val batchIds = spark.range(999900, 1000000).selectExpr("id")
    val b = shuffleBytes {
      graft.ext.Components.emissionDelta(
        assign.unionByName(delta), delta, survBatch, batchIds, "id").count()
    }
    assertCeiling("emission delta", b, 64 << 10)
  }

  test("q96 per-source cap: shuffle carries O(sources × k) pick structs, not rows") {
    // 50 docs × ~200-char texts ≈ 12 KB of row payload; the cap's
    // only exchanges are the k-bounded pick partials and the
    // broadcast build — full text must never enter a shuffle
    val b = shuffleBytes { PipelineQueries.q96(spark, sf).count() }
    assertCeiling("q96", b, 24 << 10)
  }

  test("q95 priority sample: one O(partitions × k) top-k merge") {
    val b = shuffleBytes { PipelineQueries.q95(spark, sf).count() }
    assertCeiling("q95", b, 96 << 10) // (k+1)-bounded partials only
  }

  test("composed hygiene step: per-batch shuffle is O(batch + touched), stored state never moves") {
    // a ~1000-doc corpus already flowed through the composed pipeline
    // (clean log holds 1000 full texts ≈ 200 KB, keeper table ~23k
    // gram rows, BM25 postings ~30k rows); a 40-doc batch 1 may
    // shuffle only ITS OWN gram/token partials plus bounded repair
    // and probe rows.  Any plan regression that resolves, re-reads,
    // or exchanges a stored table per batch (full clean-log resolve,
    // keeper-table exchange, postings re-aggregation outside the
    // pruned buckets) bills hundreds of KB here — and O(corpus) at
    // scale — blowing the ceiling immediately.
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id AS doc_id",
      (0 until 30).map(k => s"concat('w', id * 30 + $k)")
        .mkString("concat_ws(' ', ", ", ", ") AS text"))
    import graft.ext.Hygiene
    val st = Hygiene.HygieneState("sbspec_hyg",
      java.nio.file.Files.createTempDirectory("sbh_pairs").toString,
      java.nio.file.Files.createTempDirectory("sbh_assign").toString,
      java.nio.file.Files.createTempDirectory("sbh_surv").toString,
      java.nio.file.Files.createTempDirectory("sbh_emit").toString,
      java.nio.file.Files.createTempDirectory("sbh_clean").toString,
      java.nio.file.Files.createTempDirectory("sbh_flag").toString)
    def scoresFor(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(1.0).as("q"))
    def rawTextFor(ids: org.apache.spark.sql.DataFrame) =
      docs(0L, 2000L).join(broadcast(ids.select("doc_id")), Seq("doc_id"),
        "left_semi")
    val bench = { import spark.implicits._
      Seq(("qa", "w100"), ("qa", "w200")).toDF("query_id", "term") }
    def step(b: org.apache.spark.sql.DataFrame, k: Long) =
      Hygiene.hygieneStep(b, k, "doc_id", "text", scoresFor, "q",
        rawTextFor, st, bench, "query_id", "term", 5, 0.0001)
    try {
      graft.ext.Dedup.writeLshIndex(docs(0L, 0L), "doc_id", "text",
        st.lshName)
      graft.sources.Tables.dropWithLocation(spark, s"${st.lshName}_batches")
      assert(step(docs(0L, 1000L), 0L))
      val b = shuffleBytes { assert(step(docs(1000L, 1040L), 1L)) }
      assertCeiling("hygiene step", b, 192 << 10) // measured 51,863
    } finally {
      (st.allTables ++ Seq(s"${st.lshName}_shingles", s"${st.lshName}_bands",
        s"${st.lshName}_batches")).foreach(t =>
        graft.sources.Tables.dropWithLocation(spark, t))
      Seq(st.pairsDir, st.assignDir, st.survDir, st.emitDir, st.cleanDir,
        st.flagDir).foreach { d =>
        val p = java.nio.file.Paths.get(d)
        val w = java.nio.file.Files.walk(p)
        try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally w.close()
      }
    }
  }

  test("keeper-index ingest: shuffle is O(batch grams), stored keepers never move") {
    // a ~115k-row stored keeper table (mostly-novel grams) vs a
    // 50-doc batch: the probe may shuffle only the batch's gram
    // partials into the stored table's bucket layout — the stored
    // side is read in place, and an exchange on it would bill ~2 MB
    // here (and O(index) at scale), blowing the ceiling immediately
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id",
      (0 until 30).map(k => s"concat('w', id * 30 + $k)")
        .mkString("concat_ws(' ', ", ", ", ") AS text"))
    val name = "sbspec_pidx"
    val clean = java.nio.file.Files.createTempDirectory("sbspec_clean")
    try {
      graft.ext.Decontaminate.writePassageIndex(
        docs(0L, 5000L), "id", "text", name)
      val b = shuffleBytes {
        graft.ext.Decontaminate.ingestPassageBatch(docs(5000L, 5050L), 0L,
          "id", "text", name, clean.toString)
      }
      assertCeiling("keeper ingest", b, 192 << 10)
    } finally {
      Seq("_keepers", "_pstats", "_batches").foreach(sfx =>
        graft.sources.Tables.dropWithLocation(spark, s"$name$sfx"))
      val walked = java.nio.file.Files.walk(clean)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walked.close()
    }
  }
}
