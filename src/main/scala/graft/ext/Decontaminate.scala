package graft.ext

import graft.functions.ColFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the overlap check every training
  * pipeline runs before the corpus ships: flag corpus documents that
  * share word n-grams with a held-out evaluation/benchmark set
  * (exact-substring contamination at token granularity).
  *
  * Scale shape: the holdout side is a benchmark suite — megabytes, not
  * terabytes — so its distinct gram-hash table broadcasts and the
  * corpus NEVER shuffles its grams: the overlap join is map-side, and
  * the only exchange is the per-document partial-count aggregation of
  * the matching grams (a tiny fraction of the corpus).  Grams travel
  * as 60-bit md5-slice hashes (primitive longs), not strings.  If the
  * holdout ever outgrows broadcast, [[Bloom.semiJoinPrune]] is the
  * same pattern with a bitset instead of a hash table.
  */
object Decontaminate {

  /** Per-document count of DISTINCT word `n`-grams shared with any
    * holdout document: (idCol, n_shared), only documents with ≥ 1
    * shared gram.  Callers exclude the holdout itself from `corpus`
    * (or every holdout doc trivially flags itself). */
  /** Broadcast guard: the distinct holdout gram table is persisted
    * and counted first; above `maxBroadcastGrams` the map-side
    * broadcast join falls back to [[Bloom.semiJoinPrune]] (bitset
    * prune + exact shuffle semi-join — same rows, bounded driver
    * memory) with a logged note.  Release the persisted gram table
    * via [[Dedup.unpersistInputsOf]] on the result. */
  def overlap(corpus: DataFrame, holdout: DataFrame, idCol: String,
      textCol: String, n: Int = 5,
      maxBroadcastGrams: Long = 20000000L): DataFrame = {
    def gramHashes(t: Column): Column =
      transform(array_distinct(wordShingles(tokens(t), n)), g => h60(g))
    val hg = holdout
      .select(explode(gramHashes(col(textCol))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGrams = hg.count()
    // same parallelism floor as the dedup preps: the per-row md5 pass
    // must not serialize on a few input splits
    val cg = Dedup.parallelized(corpus)
      .select(col(idCol), explode(gramHashes(col(textCol))).as("h"))
    // hg is DISTINCT, so inner join ≡ semi join on membership — both
    // branches keep exactly the corpus grams present in the holdout
    val matched =
      if (nGrams <= maxBroadcastGrams) cg.join(broadcast(hg), Seq("h"))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Decontaminate.overlap: $nGrams holdout grams exceed " +
            s"maxBroadcastGrams=$maxBroadcastGrams — bloom-prune + " +
            "shuffle semi-join fallback")
        Bloom.semiJoinPrune(cg, "h", hg, "h")
      }
    Dedup.registerCleanup(
      matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_shared")), hg)
  }

  /** Within-corpus repeated-passage signal (exact-substring dedup at
    * token granularity, the Lee et al. "Deduplicating Training Data"
    * shape): for EVERY document, how many of its distinct word
    * `n`-grams also appear in at least one other document.  Zero for
    * clean docs; near-dup and boilerplate docs score high.
    *
    * Scale shape: both sides of the gram join are the SAME exploded
    * (id, gram-hash) table — one shuffle by gram hash for the
    * document-frequency aggregation, one for the join back, grams as
    * 60-bit longs throughout; never an all-pairs comparison.  The
    * df>1 filter happens before the join back, so only actually-
    * repeated grams (a tiny fraction of a natural corpus) flow into
    * the per-doc count. */
  /** Cross-document repeated-passage REMOVAL — the acting form of
    * [[repeatedPassages]]'s signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, the
    * ExactSubstr variant at word-`n`-gram granularity): re-emit every
    * document with the token spans covered by grams that ALSO occur
    * in an earlier document removed, keeping exactly one copy of
    * every repeated passage corpus-wide.
    *
    * Keep rule (deterministic, engine-independent): a gram's
    * CANONICAL document is the smallest `idCol` containing it; in any
    * later document, all `n` tokens under that gram are dropped.  The
    * canonical document keeps its copy even when the gram repeats
    * within it (intra-doc repetition is
    * [[TextOps.dedupChunks]]'s job).  Documents shorter than `n`
    * tokens pass through unchanged.
    *
    * Scale shape: one (id, pos, gram-hash) exploded table, persisted
    * and read twice (min-id aggregation, join back) — the
    * [[repeatedPassages]] shuffle pair, grams as 60-bit longs; only
    * MARKED positions (repeated grams, a small fraction of a natural
    * corpus) flow into the per-doc mark lists, which broadcast back
    * into the corpus rebuild under a counted guard
    * (`maxBroadcastMarkedDocs`, shuffle-join fallback above it) — the
    * corpus itself never shuffles.  The rebuild is per-row HOFs over
    * the materialized token array (the q98 two-step projection
    * contract).  Release the persisted gram table via
    * [[Dedup.unpersistInputsOf]] on the result.
    *
    * Returns (idCol, `clean_text`, `n_kept`, `n_removed`). */
  /** (idCol, `__toks`) — the one tokenization pass every passage
    * operation shares (the two-step projection contract). */
  private[ext] def tokedOf(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Dedup.parallelized(corpus)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))

  /** (idCol, `__pos` 1-based, `h` 60-bit gram hash) for every word
    * `n`-gram start position. */
  private[ext] def gramsOf(toked: DataFrame, idCol: String, n: Int): DataFrame =
    toked
      .select(col(idCol), posexplode(wordShingles(col("__toks"), n))
        .as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), h60(col("__g")).as("h"))

  /** Rebuild clean text from per-doc dropped-span start lists:
    * token i survives iff no dropped span covers it.  `marks` =
    * (idCol, `__starts`); docs absent from it pass through unchanged.
    * Returns (idCol, `clean_text`, `n_kept`, `n_removed`). */
  private[ext] def rebuildClean(toked: DataFrame, marks: DataFrame,
      idCol: String, n: Int): DataFrame = {
    val kept = toked.join(marks, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__st"))
      .select(col(idCol), col("__toks"),
        // size-0 guard: sequence(1, 0) counts DOWN (TextOps note)
        when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(filter(sequence(lit(1), size(col("__toks"))),
            i => !exists(col("__st"),
              s => s <= i && s + lit(n - 1) >= i))).as("__keep"))
    kept.select(col(idCol),
      concat_ws(" ", transform(col("__keep"),
        i => element_at(col("__toks"), i))).as("clean_text"),
      size(col("__keep")).cast("long").as("n_kept"),
      (size(col("__toks")) - size(col("__keep"))).cast("long").as("n_removed"))
  }

  def removeRepeatedPassages(corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 8,
      maxBroadcastMarkedDocs: Long = 4000000L): DataFrame = {
    val toked = tokedOf(corpus, idCol, textCol)
    val grams = gramsOf(toked, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keeper = grams.groupBy(col("h")).agg(min(col(idCol)).as("__keeper"))
    // marked docs: per-doc 1-based start positions of dropped spans
    val marks = grams.join(keeper, Seq("h"))
      .where(col("__keeper") < col(idCol))
      .groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__starts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nMarked = marks.count()
    val marksSide =
      if (nMarked <= maxBroadcastMarkedDocs) broadcast(marks)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"removeRepeatedPassages: $nMarked marked docs exceed " +
            s"maxBroadcastMarkedDocs=$maxBroadcastMarkedDocs — " +
            "shuffle-join fallback for the rebuild")
        marks
      }
    // two-step rebuild over bound attributes: kept INDICES first
    // (token i survives iff no dropped span s covers it), tokens after
    Dedup.registerCleanup(rebuildClean(toked, marksSide, idCol, n),
      grams, marks)
  }

  def repeatedPassages(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    def gramHashes(t: Column): Column =
      transform(array_distinct(wordShingles(tokens(t), n)), g => h60(g))
    // persisted: BOTH the df aggregation and the join-back read the
    // gram table — without the persist the md5 gram pass runs twice
    // (same reasoning as Dedup.lshPairs; release via
    // Dedup.unpersistInputsOf on the result)
    val grams = Dedup.parallelized(corpus)
      .select(col(idCol), explode(gramHashes(col(textCol))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docFreq = grams.groupBy("h").agg(count(lit(1)).as("docs"))
    val dupCounts = grams.join(docFreq.where(col("docs") > 1), Seq("h"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_grams"))
    Dedup.registerCleanup(
      corpus.select(col(idCol)).distinct()
        .join(dupCounts, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams")),
      grams)
  }

  // ---- passage-removal lifecycle: the persisted keeper index ------------
  //
  // [[removeRepeatedPassages]] recomputes global gram state per run —
  // an O(corpus) sweep a production ingest cannot afford per batch.
  // The incremental form persists the KEEPER index: one row per
  // distinct gram hash corpus-wide, `(h, keeper)` with keeper = the
  // smallest doc id carrying the gram, h-bucketed and batch_id-
  // partitioned under the [[IndexLifecycle]] protocol.
  //
  // The contract that makes increments exact is MONOTONE INGEST IDS
  // (require()d per batch): every id in a new batch exceeds every id
  // already indexed, so a new document can never steal keeper-ship
  // from a stored one — stored docs' clean text is immutable, and
  // cleaning a batch needs only (a) "does h exist in the index"
  // (stored keeper is automatically smaller) and (b) the within-batch
  // min id.  Per-batch cost: one gram pass over the batch + one join
  // against the keeper table's matching rows (the stored side is
  // scanned in place — bucketed on h, it is never shuffled and never
  // rewritten) + one TxLog commit of the batch's cleaned docs.  A
  // doc's passage marks are decided ONCE, on arrival, and the
  // resolved clean log equals the one-shot removal over the full
  // corpus (gate q120; DecontaminateSpec).
  //
  // Keeper rows are NEW-ONLY (a batch writes rows only for grams the
  // index has never seen), so h stays unique across partitions and
  // compaction is a pure relabel + re-bucket — it cannot change a
  // bit.  Replay is the three-layer recovery of the curation loop:
  // the clean log guards itself (TxLog marker), the keeper/stats
  // partitions replay as dynamic-overwrite REPLACES computed against
  // the stored view EXCLUDING the batch's own partitions, and the
  // index marker lands last.
  //
  // AMORTIZATION CONTRACT for the stored-side scan (the honest
  // linear term, measured in IndexBench `passage` across a 64x
  // octave, `4740777:src/main/scala/graft/tools/IndexBench.scala`):
  // the probe join reads the whole keeper table per batch —
  // 16 bytes/row of columnar (h, keeper) longs — and uniform 60-bit
  // hashes defeat every skipping lever: min/max row-group stats are
  // useless, and parquet column bloom filters cannot skip either
  // because a batch-sized probe set (tens of thousands of uniform
  // hashes) hits every row group (IndexBench `pasbloom` measured the
  // negative).  The lever that works is BATCH SIZING: per-batch scan
  // cost is keeperRows x 16 B / scan-bandwidth, so per-DOC cost
  // stays constant when batches grow proportionally to the index —
  // size batches to >= indexDocs / F for a fixed amortization factor
  // F (per-doc scan cost = 16 B x gramsPerDoc x F / bandwidth,
  // independent of corpus age).  At a fold cadence that keeps one
  // file per bucket, the scan is sequential columnar I/O — the same
  // reason the LSH index's probe survives at scale.

  /** The amortization contract, as code: recommended batch size (in
    * GRAMS) for a keeper index of `keeperRows` rows.  The probe join
    * scans the whole stored table per batch (16 B/row of columnar
    * (h, keeper) longs — uniform hashes defeat min/max and bloom
    * skipping, both measured), so per-GRAM ingest cost is
    * `keeperRows × 16 B / batchGrams / bandwidth` — constant when
    * batches grow proportionally to the index.  `amortizationFactor`
    * F bounds the stored-scan overhead at F× the batch's own bytes:
    * the default 64 matches the measured IndexBench `passage` octave
    * (0.177 ms/doc flat when batch ∝ index at 64×;
    * `4740777:src/main/scala/graft/tools/IndexBench.scala`). */
  def recommendedBatchGrams(keeperRows: Long,
      amortizationFactor: Long = 64L): Long = {
    require(amortizationFactor > 0,
      s"amortizationFactor must be positive, got $amortizationFactor")
    math.max(1L, keeperRows / amortizationFactor)
  }

  /** True when a batch sits more than `slack`× below the recommended
    * cadence — the regime where per-doc ingest cost is dominated by
    * the stored-side scan instead of the batch's own work. */
  def cadenceLagged(batchGrams: Long, keeperRows: Long,
      slack: Long = 100L): Boolean =
    batchGrams * slack < recommendedBatchGrams(keeperRows)

  /** Count of cadence warnings fired this JVM — the test seam that
    * lets StreamingSpec assert an under-cadence streamed batch
    * actually warned (log output is not assertable portably). */
  private[graft] val cadenceWarnCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared opt-in warning for the passage/hygiene ingests. */
  private[ext] def warnIfCadenceLagged(op: String, batchGrams: Long,
      keeperRows: Long): Unit =
    if (cadenceLagged(batchGrams, keeperRows)) {
      cadenceWarnCount.incrementAndGet()
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op: $batchGrams batch grams against $keeperRows keeper rows " +
          s"is >100x below the amortization cadence (recommended >= " +
          s"${recommendedBatchGrams(keeperRows)} grams/batch) — per-doc " +
          "cost is dominated by the stored-side 16 B/row scan; grow " +
          "batches proportionally to the index (batch ∝ index)")
    }

  /** Bootstrap the keeper index from the initial corpus: one row per
    * distinct gram `(h, keeper = min id)`, plus a stats partition
    * carrying the id high-water mark for the monotonicity gate.
    * Does NOT clean the bootstrap corpus — run
    * [[removeRepeatedPassages]] on it and commit that as the clean
    * log's first batch (gate q120's shape). */
  def writePassageIndex(corpus: DataFrame, idCol: String, textCol: String,
      name: String, n: Int = 8, buckets: Int = 16): Unit = {
    val s = corpus.sparkSession
    Seq("_keepers", "_pstats", "_batches").foreach(sfx =>
      graft.sources.Tables.dropWithLocation(s, s"$name$sfx"))
    val grams = gramsOf(tokedOf(corpus, idCol, textCol), idCol, n)
    IndexLifecycle.writeBatchPartition(
      grams.groupBy(col("h")).agg(min(col(idCol)).as("keeper")),
      s"${name}_keepers", IndexLifecycle.bootstrapBatchId,
      Some(("h", buckets)))
    IndexLifecycle.writeBatchPartition(
      corpus.agg(count(lit(1)).as("n_docs"),
        coalesce(max(col(idCol)).cast("long"), lit(Long.MinValue))
          .as("max_id")),
      s"${name}_pstats", IndexLifecycle.bootstrapBatchId, None)
  }

  /** Marker-gated incremental ingest: clean ONE new batch against the
    * keeper index and fold its novel grams in.  Returns false (a
    * no-op, before any compute) when `batchId` is already marked —
    * the at-least-once replay gate, valid across compactions.
    *
    * Layer order (each layer independently replay-safe):
    *   1. the batch's cleaned docs commit to `cleanDir` as TxLog
    *      batch `batchId` (its own marker no-ops a replay);
    *   2. novel keepers + the batch's stats land as dynamic-
    *      overwrite partitions, computed against the stored view
    *      EXCLUDING this batch's own partitions (so a replay after a
    *      partial crash REPLACES instead of corrupting);
    *   3. the index marker lands last.
    *
    * Throws when the batch violates the monotone-id contract — a
    * smaller-than-indexed id would retroactively re-mark stored
    * docs, which this index (by design) never does — or the
    * contiguous-batch-id contract (next unseen id == max marked
    * + 1), which is what turns a lost upstream batch into a loud
    * error instead of a silently diverged clean log. */
  def ingestPassageBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, name: String, cleanDir: String, n: Int = 8,
      buckets: Int = 16, cadenceCheck: Boolean = false): Boolean = {
    val s = batch.sparkSession
    require(batchId >= 0, s"ingest batch ids start at 0, got $batchId")
    val marked = IndexLifecycle.committedIds(s, name)
    if (marked.contains(batchId)) return false
    // contiguity gate: the monotone-id check below compares only
    // against the stored HIGH-WATER mark, so a permanently skipped
    // batch (a source violating in-order at-least-once delivery)
    // would pass it silently and the clean log would diverge from
    // the one-shot oracle with no signal.  Marked ids survive
    // compaction (the marker fold keeps every id), so the next
    // unseen id is always max(marked)+1; anything larger means a
    // batch went missing — fail loudly, never wrong.
    val realMarked = marked.filter(_ >= 0L)
    require(realMarked.isEmpty || batchId == realMarked.max + 1L,
      s"ingestPassageBatch($batchId): batch ids must be contiguous — " +
        s"highest marked id is ${realMarked.max}, so the next batch " +
        s"must be ${realMarked.max + 1L}; a gap means a batch was " +
        "lost upstream and the clean log would silently diverge")
    val notSelf = col("batch_id") =!= lit(batchId)
    val storedMax = s.table(s"${name}_pstats").where(notSelf)
      .agg(max(col("max_id"))).first().getLong(0)
    val ids = batch.agg(
      coalesce(min(col(idCol)).cast("long"), lit(Long.MaxValue)),
      coalesce(max(col(idCol)).cast("long"), lit(Long.MinValue)),
      count(lit(1))).first()
    require(ids.getLong(0) > storedMax,
      s"ingestPassageBatch($batchId): batch min id ${ids.getLong(0)} must " +
        s"exceed the indexed high-water mark $storedMax — keeper-ship is " +
        "first-arrival, so ingest order must be id order")
    val toked = tokedOf(batch, idCol, textCol)
    val grams = gramsOf(toked, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // opt-in amortization check: the counts are cheap (the grams
    // frame is persisted; the keeper count is parquet-footer-only)
    if (cadenceCheck)
      warnIfCadenceLagged(s"ingestPassageBatch($batchId)", grams.count(),
        s.table(s"${name}_keepers").where(notSelf).count())
    // one stored probe for both consumers: per distinct batch gram,
    // the within-batch keeper + whether the index already holds it
    val flag = grams.groupBy(col("h")).agg(min(col(idCol)).as("__bk"))
      .join(s.table(s"${name}_keepers").where(notSelf)
          .select(col("h"), lit(true).as("__hit")),
        Seq("h"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val marks = grams.join(flag, Seq("h"))
        .where(col("__hit").isNotNull || col("__bk") < col(idCol))
        .groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__starts"))
      graft.sources.TxLog.commitBatch(
        rebuildClean(toked, marks, idCol, n), cleanDir, batchId)
      IndexLifecycle.writeBatchPartition(
        flag.where(col("__hit").isNull)
          .select(col("h"), col("__bk").as("keeper")),
        s"${name}_keepers", batchId, Some(("h", buckets)))
      IndexLifecycle.writeBatchPartition(
        s.range(1).select(lit(ids.getLong(2)).as("n_docs"),
          lit(ids.getLong(1)).as("max_id")),
        s"${name}_pstats", batchId, None)
      IndexLifecycle.markBatch(s, name, batchId)
      true
    } finally { grams.unpersist(); flag.unpersist() }
  }

  /** Fold the keeper index to one consolidated base.  Keeper rows are
    * new-only (h unique across partitions), so the fold is a pure
    * relabel + re-bucket — one file per bucket, not one bit of any
    * future mark changed; stats fold to one additive row; the marker
    * table keeps EVERY id (the seen gate is what keeps folded
    * partitions replay-safe).  Staged-swap crash protocol, repaired
    * by [[recoverPassageCompaction]] (run first here). */
  def compactPassageIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    recoverPassageCompaction(spark, name)
    val keep = s"${name}_keepers"
    val stats = s"${name}_pstats"
    if (!Seq(keep, stats).forall(spark.catalog.tableExists)) return
    val committed = IndexLifecycle.committedIds(spark, name)
    IndexLifecycle.swapFold(spark, keep, committed,
      (df, base) => df.withColumn("batch_id", base))
    IndexLifecycle.swapFold(spark, stats, committed,
      (df, base) => df
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          coalesce(max(col("max_id")), lit(Long.MinValue)).as("max_id"))
        .withColumn("batch_id", base))
    IndexLifecycle.foldMarkerTable(spark, name)
  }

  /** Finish a [[compactPassageIndex]] swap a crash interrupted —
    * idempotent, run first by every compaction. */
  def recoverPassageCompaction(spark: org.apache.spark.sql.SparkSession,
      name: String): Boolean = {
    val partitioned = Set(s"${name}_keepers", s"${name}_pstats")
    IndexLifecycle.recoverSwaps(spark,
      (partitioned + s"${name}_batches").toSeq, partitioned)
  }
}
