package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions.{col, concat, lit, regexp_replace, round}
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("exact(hashKey = true) picks the identical survivors as raw-key grouping") {
    val rnd = new scala.util.Random(21)
    val texts = Seq("alpha beta", "gamma", "alpha beta", "delta epsilon",
      "gamma", "gamma", "zeta")
    val rows = (1 to 200).map { i =>
      (i.toLong, texts(rnd.nextInt(texts.length)), s"extra$i")
    }
    val df = rows.toDF("doc_id", "text", "payload")
    val raw = Dedup.exact(df, Seq("text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val hashed = Dedup.exact(df, Seq("text"), "doc_id", hashKey = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(hashed == raw)
    assert(raw.map(_._2) == texts.toSet) // one survivor per distinct text
  }

  test("multi-column hash key does not merge across column boundaries") {
    val df = Seq((1L, "a b", "c"), (2L, "a", "b c"), (3L, "a b", "c"))
      .toDF("id", "k1", "k2")
    val out = Dedup.exact(df, Seq("k1", "k2"), "id", hashKey = true)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L)) // (a b, c) dedups; (a, b c) stays distinct
  }

  test("hash key keeps NULL its own group — never merged with '' or shifted NULLs") {
    // keys differing only in NULL placement, or NULL vs empty string,
    // must survive as distinct groups (SQL GROUP BY semantics)
    val rows = Seq[(Long, String, String)](
      (1L, null, "x"), (2L, "", "x"),     // (NULL,x) vs ("",x)
      (3L, "x", null), (4L, null, "x"),   // (x,NULL) vs (NULL,x); 4 dups 1
      (5L, null, null), (6L, "", ""),     // all-NULL vs all-empty
      (7L, "x", null))                    // dup of 3
    val df = rows.toDF("id", "k1", "k2")
    val raw = Dedup.exact(df, Seq("k1", "k2"), "id")
      .collect().map(_.getLong(0)).toSet
    val hashed = Dedup.exact(df, Seq("k1", "k2"), "id", hashKey = true)
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 2L, 3L, 5L, 6L))
    assert(hashed == raw)
  }

  test("hash key length-prefix blocks boundary-straddling merges") {
    // "v1:a" + "v2:bc" vs "v1:a" + ... : without length prefixes
    // ("ab","c") and ("a","bc") or values containing the encoding's
    // own tags could collide; assert a nasty set stays fully distinct
    val rows = Seq((1L, "ab", "c"), (2L, "a", "bc"), (3L, "v1:a", "n;"),
      (4L, "v1:an;", ""), (5L, "a", "b"), (6L, "ab", ""))
    val df = rows.toDF("id", "k1", "k2")
    val hashed = Dedup.exact(df, Seq("k1", "k2"), "id", hashKey = true)
    assert(hashed.count() == 6L)
  }

  test("hash key folds -0.0 into 0.0, matching raw grouping semantics") {
    // GROUP BY normalizes signed zero to one group; the string-cast
    // hash path must not split it back into two survivors
    val df = Seq((1L, 0.0), (2L, -0.0), (3L, 1.5)).toDF("id", "score")
    val raw = Dedup.exact(df, Seq("score"), "id")
      .collect().map(_.getLong(0)).toSet
    val hashed = Dedup.exact(df, Seq("score"), "id", hashKey = true)
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 3L))
    assert(hashed == raw)
  }

  test("incremental index pairs == full-corpus rerun restricted to the batch") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (cut1, cut2) = (300L, 400L)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.lshPairs(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.writeLshIndex(docs.where(col("doc_id") < cut1), "doc_id", "text",
        "dedupspec_idx", buckets = 4)
      // batch 1: [cut1, cut2) against the initial index
      val b1 = norm(Dedup.lshPairsAgainstIndex(
        docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2),
        "doc_id", "text", "dedupspec_idx"))
      val full1 = norm(full.where(
        (col("id_a") >= cut1 || col("id_b") >= cut1) &&
          col("id_a") < cut2 && col("id_b") < cut2))
      assert(b1 == full1, s"batch1 ${b1.size} pairs vs restricted ${full1.size}")
      Dedup.appendToLshIndex(
        docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2),
        0L, "doc_id", "text", "dedupspec_idx", buckets = 4)
      // batch 2 against the GROWN index — exercises the append path
      // end-to-end, not just its row counts
      val b2 = norm(Dedup.lshPairsAgainstIndex(
        docs.where(col("doc_id") >= cut2), "doc_id", "text", "dedupspec_idx"))
      val full2 = norm(full.where(col("id_a") >= cut2 || col("id_b") >= cut2))
      assert(b2 == full2, s"batch2 ${b2.size} pairs vs restricted ${full2.size}")
      // an empty batch finds nothing and does not crash
      val empty = Dedup.lshPairsAgainstIndex(
        docs.where(col("doc_id") < 0), "doc_id", "text", "dedupspec_idx")
      assert(empty.count() == 0)
      Dedup.appendToLshIndex(docs.where(col("doc_id") >= cut2), 1L, "doc_id",
        "text", "dedupspec_idx", buckets = 4)
      assert(spark.table("dedupspec_idx_shingles").count() == docs.count())
      // replaying an append with the same batch id REPLACES its
      // partition — the index never holds a signature twice
      Dedup.appendToLshIndex(docs.where(col("doc_id") >= cut2), 1L, "doc_id",
        "text", "dedupspec_idx", buckets = 4)
      assert(spark.table("dedupspec_idx_shingles").count() == docs.count(),
        "replayed append must overwrite, not duplicate")
    } finally full.unpersist()
  }

  test("index probe: wide ids and an over-budget id set take the sized-cache path, same pairs") {
    // long ids under the byte budget collect the candidate ids on the
    // driver; string ids, and any id set over maxBroadcastBytes, size
    // a persisted id cache instead (broadcast or shuffle semi-join) —
    // every path must emit the same pairs
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sdocs = docs.select(concat(lit("d-"), col("doc_id").cast("string")).as("doc_id"),
      col("text"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(regexp_replace(col("id_a").cast("string"), "d-", "").cast("long"),
        regexp_replace(col("id_b").cast("string"), "d-", "").cast("long"),
        round(col("jaccard"), 6))
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    try {
      Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text", "dedupspec_wl")
      val batch = docs.where(col("doc_id") >= 300)
      val viaDriver = norm(Dedup.lshPairsAgainstIndex(batch, "doc_id", "text", "dedupspec_wl"))
      assert(viaDriver.nonEmpty, "the slice must produce pairs for this spec to bite")
      val overBudget = norm(Dedup.lshPairsAgainstIndex(batch, "doc_id", "text",
        "dedupspec_wl", maxBroadcastBytes = 1L))
      assert(overBudget == viaDriver)
      // the same documents keyed by strings: "d-0".."d-299"
      val stored = sdocs.where(regexp_replace(col("doc_id"), "d-", "").cast("long") < 300)
      Dedup.writeLshIndex(stored, "doc_id", "text", "dedupspec_ws")
      val viaCache = norm(Dedup.lshPairsAgainstIndex(
        sdocs.where(regexp_replace(col("doc_id"), "d-", "").cast("long") >= 300),
        "doc_id", "text", "dedupspec_ws"))
      assert(viaCache == viaDriver)
    } finally Seq("dedupspec_wl", "dedupspec_ws").flatMap(n => Seq(s"${n}_bands", s"${n}_shingles"))
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("ingestBatchIntoIndex is idempotent on a replayed batch id") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 450), "doc_id", "text",
      "dedupspec_ing", buckets = 4)
    Seq("dedupspec_ing_pairs", "dedupspec_ing_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    val batch = docs.where(col("doc_id") >= 450)
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      "dedupspec_ing", "dedupspec_ing_pairs", buckets = 4))
    val pairs = spark.table("dedupspec_ing_pairs").count()
    val shingles = spark.table("dedupspec_ing_shingles").count()
    assert(shingles == docs.count())
    // replay of the same foreachBatch id (at-least-once recovery):
    // no-op — nothing appended twice
    assert(!Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      "dedupspec_ing", "dedupspec_ing_pairs", buckets = 4))
    assert(spark.table("dedupspec_ing_pairs").count() == pairs)
    assert(spark.table("dedupspec_ing_shingles").count() == shingles)
    // a NEW batch id with fresh ids does proceed
    assert(spark.table("dedupspec_ing_batches").count() == 1)
    // crash-replay (marker wiped before it landed): the replayed step
    // REPLACES the batch's pairs partition — count unchanged, no
    // DISTINCT anywhere
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_ing_batches")
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      "dedupspec_ing", "dedupspec_ing_pairs", buckets = 4))
    assert(spark.table("dedupspec_ing_pairs").count() == pairs,
      "replayed pairs partition must overwrite, not duplicate")
    assert(spark.table("dedupspec_ing_shingles").count() == shingles)
  }

  test("half-append crash window: replay after shingles landed but bands did not") {
    // writeIndexTables lands _shingles FIRST, _bands SECOND.  A crash
    // between the two (and before the batch marker) leaves the batch's
    // own shingles in the index; the replay must NOT re-probe (it
    // would fetch every candidate's shingles from both the stored
    // slice and the fresh batch and land duplicated pair rows) but
    // MUST re-run the idempotent append.  This is the window the
    // split indexHasShingles/indexHasBatch guards exist for.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 450), "doc_id", "text",
      "dedupspec_half", buckets = 4)
    Seq("dedupspec_half_pairs", "dedupspec_half_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    val batch = docs.where(col("doc_id") >= 450)
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      "dedupspec_half", "dedupspec_half_pairs", buckets = 4))
    val pairsOnce = spark.table("dedupspec_half_pairs")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pairsOnce.nonEmpty, "test needs a batch that finds pairs")
    val shinglesOnce = spark.table("dedupspec_half_shingles").count()
    // simulate the crash: wipe the marker and delete ONLY the batch's
    // bands partition — exactly the state a crash between the two
    // index table writes leaves behind
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_half_batches")
    spark.sql("ALTER TABLE dedupspec_half_bands DROP PARTITION (batch_id=0)")
    assert(spark.table("dedupspec_half_bands")
      .where(col("batch_id") === 0L).count() == 0)
    // replay the whole ingest step
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      "dedupspec_half", "dedupspec_half_pairs", buckets = 4))
    assert(spark.table("dedupspec_half_pairs")
      .orderBy("id_a", "id_b").collect().toSeq == pairsOnce,
      "replay after a half-append must leave the pairs row-identical — no duplicates")
    assert(spark.table("dedupspec_half_bands")
      .where(col("batch_id") === 0L).count() > 0,
      "replay must re-land the missing bands partition")
    assert(spark.table("dedupspec_half_shingles").count() == shinglesOnce,
      "re-append must overwrite the shingles partition, not duplicate it")
    val sh = spark.table("dedupspec_half_shingles")
    assert(sh.count() == sh.dropDuplicates("id").count())
  }

  test("compactLshIndex folds marked partitions; probes and replays unchanged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val name = "dedupspec_cidx"
    Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text",
      name, buckets = 4)
    Seq(s"${name}_pairs", s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    def ingest(lo: Long, hi: Long, id: Long) = Dedup.ingestBatchIntoIndex(
      docs.where(col("doc_id") >= lo && col("doc_id") < hi), id,
      "doc_id", "text", name, s"${name}_pairs", buckets = 4)
    assert(ingest(300, 380, 0L) && ingest(380, 450, 1L))
    val probeBatch = docs.where(col("doc_id") >= 450)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name))
    val shCount = spark.table(s"${name}_shingles").count()
    def parquetFiles(tbl: String): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val filesBefore = parquetFiles(s"${name}_bands")
    Dedup.compactLshIndex(spark, name)
    // every marked + bootstrap partition folded into the reserved one;
    // the consolidated base is one file per bucket
    assert(spark.table(s"${name}_bands").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(Dedup.compactedBatchId))
    assert(parquetFiles(s"${name}_bands") <= 4, "one file per bucket after the fold")
    assert(parquetFiles(s"${name}_bands") < filesBefore)
    assert(spark.table(s"${name}_shingles").count() == shCount,
      "compaction must preserve every signature row")
    // probe result identical off the folded base
    assert(norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name)) == before)
    // replays of folded batch ids still no-op at the seen gate
    assert(!ingest(300, 380, 0L) && !ingest(380, 450, 1L))
    assert(spark.table(s"${name}_shingles").count() == shCount)
    // a second compaction re-folds the consolidated partition cleanly
    Dedup.compactLshIndex(spark, name)
    assert(spark.table(s"${name}_shingles").count() == shCount)
    // and ingest continues on the folded base
    assert(ingest(450, 10000, 2L))
    assert(spark.table(s"${name}_shingles").count() == docs.count())
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches",
      s"${name}_pairs").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("half-append replay works across an index compaction") {
    // the crash window the split guards exist for (shingles landed,
    // bands did not, no marker) — with a compaction in between: the
    // UNMARKED batch's partitions must pass through the fold intact,
    // so the replay still skips the probe and re-lands only the bands
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val name = "dedupspec_chalf"
    Dedup.writeLshIndex(docs.where(col("doc_id") < 450), "doc_id", "text",
      name, buckets = 4)
    Seq(s"${name}_pairs", s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    val batch = docs.where(col("doc_id") >= 450)
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      name, s"${name}_pairs", buckets = 4))
    val pairsOnce = spark.table(s"${name}_pairs")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pairsOnce.nonEmpty, "test needs a batch that finds pairs")
    // simulate the crash state, then compact: batch 0 is unmarked, so
    // its surviving shingles partition must NOT fold
    graft.sources.Tables.dropWithLocation(spark, s"${name}_batches")
    spark.sql(s"ALTER TABLE ${name}_bands DROP PARTITION (batch_id=0)")
    Dedup.compactLshIndex(spark, name)
    assert(spark.table(s"${name}_shingles")
      .where(col("batch_id") === 0L).count() > 0,
      "unmarked in-flight partition must survive the fold under its own id")
    // replay across the boundary: probe skipped (no duplicated pairs),
    // bands re-landed
    assert(Dedup.ingestBatchIntoIndex(batch, 0L, "doc_id", "text",
      name, s"${name}_pairs", buckets = 4))
    assert(spark.table(s"${name}_pairs")
      .orderBy("id_a", "id_b").collect().toSeq == pairsOnce,
      "replay across compaction must leave the pairs row-identical")
    assert(spark.table(s"${name}_bands")
      .where(col("batch_id") === 0L).count() > 0)
    val sh = spark.table(s"${name}_shingles")
    assert(sh.count() == sh.dropDuplicates("id").count())
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches",
      s"${name}_pairs").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("minor folds level the index; major collapses generations; probes unchanged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val name = "dedupspec_mf"
    Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text",
      name, buckets = 4)
    Seq(s"${name}_pairs", s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
    def ingest(lo: Long, hi: Long, id: Long) = Dedup.ingestBatchIntoIndex(
      docs.where(col("doc_id") >= lo && col("doc_id") < hi), id,
      "doc_id", "text", name, s"${name}_pairs", buckets = 4)
    def parts(tbl: String): Set[Long] = spark.table(tbl)
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    val probeBatch = docs.where(col("doc_id") >= 460)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ingest(300, 380, 0L) && ingest(380, 430, 1L))
    val before = norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name))
    val total = spark.table(s"${name}_shingles").count()
    def genFiles(tbl: String, gen: Long): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(loc, s"batch_id=$gen"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }
    Dedup.compactLshIndexMinor(spark, name)
    // real batches folded into ONE new generation; bootstrap untouched
    val afterFirst = parts(s"${name}_shingles")
    assert(afterFirst.forall(_ < 0L) && afterFirst.contains(-1L)
      && afterFirst.size == 2, s"got $afterFirst")
    // the major-base id is RESERVED: a minor generation on an index
    // with no major base must not land on compactedBatchId (-2)
    assert(!afterFirst.contains(Dedup.compactedBatchId),
      s"minor generation collided with the reserved major-base id: $afterFirst")
    // the generation must be bucket-aligned: one file per bucket, not
    // one per (scan task × bucket) — the whole point of the fold
    val gen1 = (afterFirst - (-1L)).head
    assert(genFiles(s"${name}_shingles", gen1) <= 4,
      s"generation $gen1 must land at one file per bucket")
    assert(genFiles(s"${name}_bands", gen1) <= 4)
    assert(spark.table(s"${name}_shingles").count() == total)
    assert(norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name)) == before)
    // replays of folded ids still no-op via the seen gate
    assert(!ingest(300, 380, 0L) && !ingest(380, 430, 1L))
    // next batch + second minor fold adds a DEEPER generation — the
    // earlier one is not rewritten (leveling, not re-compaction)
    assert(ingest(430, 460, 2L))
    Dedup.compactLshIndexMinor(spark, name)
    val afterSecond = parts(s"${name}_shingles")
    assert(afterSecond.size == 3 && (afterSecond -- afterFirst).forall(_ < -1L),
      s"got $afterSecond after $afterFirst")
    assert(norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name)) == before)
    // the major fold collapses bootstrap + all generations to one base
    Dedup.compactLshIndex(spark, name)
    assert(parts(s"${name}_shingles") == Set(Dedup.compactedBatchId))
    assert(norm(Dedup.lshPairsAgainstIndex(
      probeBatch, "doc_id", "text", name)) == before)
    val sh = spark.table(s"${name}_shingles")
    assert(sh.count() == sh.dropDuplicates("id").count())
    Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches",
      s"${name}_pairs").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("minor-fold crash windows all recover to an identical index") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val probeBatch = docs.where(col("doc_id") >= 460)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (point <- Seq("after-pending", "after-gen", "after-done",
        "mid-drop", "after-pending-delete")) {
      val name = s"dedupspec_mfc_${point.replace("-", "")}"
      Dedup.writeLshIndex(docs.where(col("doc_id") < 300), "doc_id", "text",
        name, buckets = 4)
      Seq(s"${name}_pairs", s"${name}_batches").foreach(t =>
        graft.sources.Tables.dropWithLocation(spark, t))
      assert(Dedup.ingestBatchIntoIndex(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 380), 0L,
        "doc_id", "text", name, s"${name}_pairs", buckets = 4))
      assert(Dedup.ingestBatchIntoIndex(
        docs.where(col("doc_id") >= 380 && col("doc_id") < 460), 1L,
        "doc_id", "text", name, s"${name}_pairs", buckets = 4))
      val before = norm(Dedup.lshPairsAgainstIndex(
        probeBatch, "doc_id", "text", name))
      val total = spark.table(s"${name}_shingles").count()
      // crash at the injected point (on the bands table, so the
      // shingles fold has already completed — mixed-progress state)
      intercept[IllegalStateException] {
        Dedup.minorFold(spark, name, crashAt = Some(s"${name}_bands:$point"))
      }
      // recovery must restore a consistent index: same probe result,
      // same signature count, no duplicates — whether it rolled the
      // fold back (pending only) or forward (done published)
      Dedup.recoverLshCompaction(spark, name)
      assert(spark.table(s"${name}_shingles").count() == total,
        s"$point: row count drifted")
      val sh = spark.table(s"${name}_shingles")
      assert(sh.count() == sh.dropDuplicates("id").count(),
        s"$point: duplicate signatures after recovery")
      val bd = spark.table(s"${name}_bands")
      assert(bd.count() == bd.dropDuplicates("id", "band_id").count(),
        s"$point: duplicate band rows after recovery")
      assert(norm(Dedup.lshPairsAgainstIndex(
        probeBatch, "doc_id", "text", name)) == before,
        s"$point: probe result drifted after recovery")
      // and the fold itself can then complete cleanly
      Dedup.compactLshIndexMinor(spark, name)
      assert(norm(Dedup.lshPairsAgainstIndex(
        probeBatch, "doc_id", "text", name)) == before,
        s"$point: probe result drifted after the re-run fold")
      Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches",
        s"${name}_pairs").foreach(t =>
        graft.sources.Tables.dropWithLocation(spark, t))
    }
  }

  test("recoverLshCompaction finishes a swap crashed between drop and rename") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val name = "dedupspec_crec"
    Dedup.writeLshIndex(docs, "doc_id", "text", name, buckets = 4)
    val count = spark.table(s"${name}_shingles").count()
    // manufacture the exact crash state: stage complete, live missing
    spark.sql(s"ALTER TABLE ${name}_shingles RENAME TO ${name}_shingles__cstage")
    assert(!spark.catalog.tableExists(s"${name}_shingles"))
    assert(Dedup.recoverLshCompaction(spark, name))
    assert(spark.table(s"${name}_shingles").count() == count)
    // idempotent when nothing is owed
    assert(!Dedup.recoverLshCompaction(spark, name))
    Seq(s"${name}_bands", s"${name}_shingles").foreach(t =>
      graft.sources.Tables.dropWithLocation(spark, t))
  }

  test("TxLog: atomic manifest commits are exactly-once under replay") {
    import graft.sources.TxLog
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txlog_spec").toString
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(TxLog.commitBatch(b1, dir, 0L))
    // replay of a committed batch: no-op, zero duplicates
    assert(!TxLog.commitBatch(b1, dir, 0L))
    assert(TxLog.readCommitted(spark, dir).count() == 2)
    // crashed attempt = staged dir with no marker: stage a fresh dir
    // by hand, never commit it — readers must not see it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((9L, "junk")).toDF("id", "v").write
      .parquet(s"$dir/_staged/1-deadbeef-crashed-attempt")
    assert(TxLog.readCommitted(spark, dir).count() == 2,
      "orphaned staged data must be invisible to readers")
    // vacuum reclaims exactly the orphan (zero grace: this spec KNOWS
    // no writer is active — the operator crash-recovery contract)
    assert(TxLog.vacuum(spark, dir, graceMs = 0) == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_staged/1-deadbeef-crashed-attempt")))
    // second batch lands beside the first
    assert(TxLog.commitBatch(Seq((3L, "c")).toDF("id", "v"), dir, 1L))
    assert(TxLog.committedBatchIds(spark, dir) == Seq(0L, 1L))
    assert(TxLog.readCommitted(spark, dir).count() == 3)
    assert(TxLog.vacuum(spark, dir, graceMs = 0) == 0)
  }

  test("TxLog: readBatch returns one increment; compacted/missing fail loudly") {
    import graft.sources.TxLog
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txlog_readbatch").toString
    TxLog.commitBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, 0L)
    TxLog.commitBatch(Seq((3L, "c")).toDF("id", "v"), dir, 1L)
    // exactly batch 1's rows — not a log scan
    assert(TxLog.readBatch(spark, dir, 1L).collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    assert(TxLog.readBatch(spark, dir, 0L).count() == 2)
    // never-committed batch: loud failure
    val missing = intercept[IllegalStateException](
      TxLog.readBatch(spark, dir, 7L))
    assert(missing.getMessage.contains("not committed"))
    // compaction folds batch 0 and 1 into the base: the increments
    // are no longer separately readable and must say so
    TxLog.commitBatch(Seq((4L, "d")).toDF("id", "v"), dir, 2L)
    TxLog.compact(spark, dir, keepRecent = 1)
    assert(TxLog.readBatch(spark, dir, 2L).count() == 1,
      "a batch kept past the compaction horizon stays readable")
    val folded = intercept[IllegalStateException](
      TxLog.readBatch(spark, dir, 0L))
    assert(folded.getMessage.contains("folded by compaction"))
  }

  test("TxLog: concurrent commits of one batch — exactly one wins") {
    import graft.sources.TxLog
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files.createTempDirectory("txlog_race").toString
    // two writers race the atomic marker create for the same batch id
    // with DIFFERENT payloads — exactly one payload must win wholesale
    // (no interleaving, no double-commit)
    val attempts = (1 to 2).map { w =>
      Future(TxLog.commitBatch(
        Seq((w.toLong, s"writer$w")).toDF("id", "v"), dir, 7L))
    }
    val wins = Await.result(Future.sequence(attempts), 2.minutes).count(identity)
    assert(wins == 1, s"exactly one concurrent commit must win, got $wins")
    val rows = TxLog.readCommitted(spark, dir).collect()
    assert(rows.length == 1, s"one winner's payload only, got ${rows.toSeq}")
    assert(TxLog.vacuum(spark, dir, graceMs = 0) == 1,
      "loser's staged dir is an orphan")
  }

  test("TxLog.compact folds committed batches into one marker") {
    import graft.sources.TxLog
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txlog_compact").toString
    (0L to 3L).foreach(i =>
      assert(TxLog.commitBatch(Seq((i, s"b$i")).toDF("id", "v"), dir, i)))
    val before = TxLog.readCommitted(spark, dir)
      .orderBy("id").collect().toSeq
    assert(TxLog.compact(spark, dir) == Some(3L),
      "folded marker carries the largest folded writer id")
    assert(TxLog.committedBatchIds(spark, dir).isEmpty,
      "writer markers replaced by the compaction marker")
    assert(TxLog.lastCompactedId(spark, dir) == Some(3L))
    assert(TxLog.readCommitted(spark, dir).orderBy("id").collect().toSeq
      == before, "compaction must not change the committed rows")
    assert(TxLog.compact(spark, dir).isEmpty, "single batch: nothing to fold")
    // the compaction marker lives OUTSIDE the writer id namespace: a
    // stream replaying any folded batch id still sees it committed,
    // and the writer's next id (4) is untouched by the c3 marker
    (0L to 3L).foreach(i => assert(TxLog.isCommitted(spark, dir, i),
      s"folded batch $i must still read as committed"))
    assert(!TxLog.isCommitted(spark, dir, 4L))
    assert(!TxLog.commitBatch(Seq((99L, "replay")).toDF("id", "v"), dir, 2L),
      "replay of a folded batch must be a no-op")
    assert(TxLog.readCommitted(spark, dir).count() == 4)
    assert(TxLog.commitBatch(Seq((4L, "b4")).toDF("id", "v"), dir, 4L))
    assert(TxLog.committedBatchIds(spark, dir) == Seq(4L))
    assert(TxLog.readCommitted(spark, dir).count() == 5)
  }

  test("TxLog.compact(keepRecent): generational fold leaves the open tail") {
    import graft.sources.TxLog
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txlog_gen").toString
    (0L to 5L).foreach(i =>
      assert(TxLog.commitBatch(Seq((i, s"b$i")).toDF("id", "v"), dir, i)))
    // fold only the closed tail (ids 0..3); 4 and 5 stay live
    assert(TxLog.compact(spark, dir, keepRecent = 2) == Some(3L))
    assert(TxLog.committedBatchIds(spark, dir) == Seq(4L, 5L))
    assert(TxLog.lastCompactedId(spark, dir) == Some(3L))
    assert(TxLog.readCommitted(spark, dir).count() == 6)
    // a second generational pass folds the previous fold + 4 into c4
    assert(TxLog.compact(spark, dir, keepRecent = 1) == Some(4L))
    assert(TxLog.committedBatchIds(spark, dir) == Seq(5L))
    assert(TxLog.readCommitted(spark, dir).count() == 6)
    // nothing left to fold below the kept tail
    assert(TxLog.compact(spark, dir, keepRecent = 1).isEmpty)
  }

  test("TxLog: a half-published (zero-length) marker reads as uncommitted") {
    import graft.sources.TxLog
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("txlog_halfpub").toString
    assert(TxLog.commitBatch(Seq((1L, "a")).toDF("id", "v"), dir, 0L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate pre-rename-protocol debris: an empty marker file
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/1"), false).close()
    assert(!TxLog.isCommitted(spark, dir, 1L),
      "an empty marker must not claim the batch")
    assert(TxLog.committedBatchIds(spark, dir) == Seq(0L))
    assert(TxLog.readCommitted(spark, dir).count() == 1)
    // vacuum clears the debris so the batch can be committed for real
    TxLog.vacuum(spark, dir)
    assert(TxLog.commitBatch(Seq((2L, "b")).toDF("id", "v"), dir, 1L))
    assert(TxLog.readCommitted(spark, dir).count() == 2)
  }

  test("lshIndexSink with txPairsDir lands pairs through the TxLog") {
    import graft.sources.TxLog
    import graft.streaming.StreamingAgg
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 450), "doc_id", "text",
      "dedupspec_sink_tx", buckets = 4)
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_sink_tx_batches")
    val pairsDir = java.nio.file.Files.createTempDirectory("txsink").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingAgg.lshIndexSink(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", "dedupspec_sink_tx", pairsTable = "unused_when_tx",
      buckets = 4, txPairsDir = Some(pairsDir))
    try {
      val rows = docs.where(col("doc_id") >= 450)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val (b1, b2) = rows.partition(_._1 < 475)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // both micro-batches committed through the manifest log; the
    // pairs match a direct batch probe of the same docs
    assert(TxLog.committedBatchIds(spark, pairsDir) == Seq(0L, 1L))
    val streamed = TxLog.readCommitted(spark, pairsDir)
    assert(streamed.count() ==
      streamed.dropDuplicates("id_a", "id_b").count())
    assert(!spark.catalog.tableExists("unused_when_tx"),
      "tx mode must not create the plain pairs table")
  }

  test("ingestBatchIntoIndexTx: crash-replay duplicates nothing user-visible") {
    import graft.sources.TxLog
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 400), "doc_id", "text",
      "dedupspec_tx", buckets = 4)
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_tx_batches")
    val pairsDir = java.nio.file.Files.createTempDirectory("txingest").toString
    val b1 = docs.where(col("doc_id") >= 400 && col("doc_id") < 450)
    val b2 = docs.where(col("doc_id") >= 450)
    assert(Dedup.ingestBatchIntoIndexTx(b1, 0L, "doc_id", "text",
      "dedupspec_tx", pairsDir, buckets = 4))
    val pairsOnce = TxLog.readCommitted(spark, pairsDir)
      .orderBy("id_a", "id_b").collect().toSeq
    val shinglesOnce = spark.table("dedupspec_tx_shingles").count()
    // simulate a crash AFTER the pairs commit + index append but
    // BEFORE the batch marker: wipe the marker and replay the batch
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_tx_batches")
    assert(Dedup.ingestBatchIntoIndexTx(b1, 0L, "doc_id", "text",
      "dedupspec_tx", pairsDir, buckets = 4))
    // user-visible pairs: byte-identical, NO dedup applied at read
    assert(TxLog.readCommitted(spark, pairsDir)
      .orderBy("id_a", "id_b").collect().toSeq == pairsOnce)
    // internal index state is exactly-once too: the replay OVERWROTE
    // batch 0's partition instead of appending a second copy
    assert(spark.table("dedupspec_tx_shingles").count() == shinglesOnce,
      "replayed index append must overwrite its partition, not duplicate")
    val sh = spark.table("dedupspec_tx_shingles")
    assert(sh.count() == sh.dropDuplicates("id").count(),
      "index tables must be duplicate-free after crash-replay")
    // the next batch probes the replayed index and still produces
    // duplicate-free pairs — with no dedup anywhere on the read path
    assert(Dedup.ingestBatchIntoIndexTx(b2, 1L, "doc_id", "text",
      "dedupspec_tx", pairsDir, buckets = 4))
    val all = TxLog.readCommitted(spark, pairsDir)
    assert(all.count() == all.dropDuplicates("id_a", "id_b").count(),
      "pairs must be unique without any reader-side DISTINCT")
  }

  test("Tx half-append crash window: bands-only loss replays cleanly") {
    // same crash point as the non-Tx test (between the two index
    // table writes, before the batch marker), against the TxLog path:
    // pairs committed BEFORE any index write, so the replay skips the
    // probe on isCommitted and only owes the idempotent re-append
    import graft.sources.TxLog
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.writeLshIndex(docs.where(col("doc_id") < 450), "doc_id", "text",
      "dedupspec_txhalf", buckets = 4)
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_txhalf_batches")
    val pairsDir = java.nio.file.Files.createTempDirectory("txhalf").toString
    val batch = docs.where(col("doc_id") >= 450)
    assert(Dedup.ingestBatchIntoIndexTx(batch, 0L, "doc_id", "text",
      "dedupspec_txhalf", pairsDir, buckets = 4))
    val pairsOnce = TxLog.readCommitted(spark, pairsDir)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pairsOnce.nonEmpty, "test needs a batch that finds pairs")
    val shinglesOnce = spark.table("dedupspec_txhalf_shingles").count()
    graft.sources.Tables.dropWithLocation(spark, "dedupspec_txhalf_batches")
    spark.sql("ALTER TABLE dedupspec_txhalf_bands DROP PARTITION (batch_id=0)")
    assert(Dedup.ingestBatchIntoIndexTx(batch, 0L, "doc_id", "text",
      "dedupspec_txhalf", pairsDir, buckets = 4))
    assert(TxLog.readCommitted(spark, pairsDir)
      .orderBy("id_a", "id_b").collect().toSeq == pairsOnce,
      "committed pairs must be byte-identical across the replay")
    assert(spark.table("dedupspec_txhalf_bands")
      .where(col("batch_id") === 0L).count() > 0,
      "replay must re-land the missing bands partition")
    assert(spark.table("dedupspec_txhalf_shingles").count() == shinglesOnce)
    val sh = spark.table("dedupspec_txhalf_shingles")
    assert(sh.count() == sh.dropDuplicates("id").count())
  }
}
