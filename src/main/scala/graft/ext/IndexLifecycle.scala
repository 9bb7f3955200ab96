package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared index-lifecycle protocol every persisted, batch-
  * partitioned index here follows (the LSH dedup index pioneered it;
  * the BM25 retrieval index and the ANN cell index reuse it through
  * this object):
  *
  *   - batches land as their own `batch_id` partition with dynamic
  *     partition overwrite, so a crash-replay REPLACES the partition
  *     instead of duplicating it;
  *   - a `<name>_batches` marker table is the `seen` gate consulted
  *     BEFORE any write: it is what keeps a replay a no-op after
  *     compaction has folded the batch's partition away (the only
  *     window dynamic overwrite cannot cover);
  *   - compaction folds marked batches + negative system partitions
  *     into the reserved [[compactedBatchId]] base via a staged swap
  *     (`<tbl>__cstage`), leaving UNMARKED in-flight partitions
  *     untouched so their replay-replace still works;
  *   - a crash between the live-table drop and the stage rename
  *     leaves the table MISSING — loud, never wrong — and
  *     [[recoverSwaps]] (run first by every compaction) finishes the
  *     swap, so "re-run compaction" is the whole recovery runbook.
  *
  * Single-writer per index, like every mutation protocol here.
  */
object IndexLifecycle {

  /** batch_id the initial bootstrap lands under — below every real
    * (≥ 0) ingest batch id. */
  val bootstrapBatchId: Long = -1L

  /** Reserved batch_id the compacted base lands under — below
    * [[bootstrapBatchId]], so a fold can never collide with a batch
    * partition. */
  val compactedBatchId: Long = -2L

  /** The ids `<name>_batches` marks committed (empty when the marker
    * table does not exist yet). */
  def committedIds(spark: SparkSession, name: String): Set[Long] =
    if (spark.catalog.tableExists(s"${name}_batches"))
      spark.table(s"${name}_batches").select("batch_id")
        .collect().map(_.getLong(0)).toSet
    else Set.empty[Long]

  /** Append `batchId` to the marker table — the LAST step of a
    * marker-gated ingest, after every data table has landed. */
  def markBatch(spark: SparkSession, name: String, batchId: Long): Unit =
    spark.range(1).select(lit(batchId).as("batch_id")).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(s"${name}_batches")

  /** Land `df` as `table`'s `batch_id = batchId` partition (bucketed
    * by `bucket` = (column, count) when set) — create the partitioned
    * table on first use, dynamic-overwrite the batch's OWN partition
    * after.  The replay-replace contract: a crash-replay of the same
    * batch REPLACES the partition instead of duplicating it. */
  def writeBatchPartition(df: DataFrame, table: String, batchId: Long,
      bucket: Option[(String, Int)]): Unit = {
    val s = df.sparkSession
    val withB = df.withColumn("batch_id", lit(batchId))
    if (!s.catalog.tableExists(table)) {
      val w = withB.write.partitionBy("batch_id").format("parquet")
      bucket.fold(w) { case (c, n) => w.bucketBy(n, c) }.saveAsTable(table)
    } else IndexLifecycle.synchronized {
      // insertInto ignores per-write options (measured: a static
      // session conf wipes sibling partitions even with
      // .option("partitionOverwriteMode","dynamic")), so the session
      // conf MUST be mutated — the object lock makes the set/restore
      // pair atomic so two concurrent index writes on a shared
      // session (e.g. streaming sinks) can't leak 'dynamic' or
      // clobber a user-set value between each other's set and restore
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try withB.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .insertInto(table)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
  }

  /** The partitions a fold collapses for `tbl`: every marked batch
    * plus every negative SYSTEM partition (bootstrap, a prior base),
    * plus [[compactedBatchId]] itself; an unmarked in-flight batch is
    * excluded so its replay-replace keeps working. */
  def foldableIds(spark: SparkSession, tbl: String,
      committed: Set[Long]): Seq[Long] = {
    val system = spark.table(tbl).select("batch_id").distinct()
      .collect().map(_.getLong(0)).filter(_ < 0L)
    (committed ++ system + compactedBatchId).toSeq
  }

  /** Staged-swap fold of one `batch_id`-partitioned table: `build`
    * turns the foldable slice into the consolidated base rows (it
    * must add `batch_id` = [[compactedBatchId]]); unmarked partitions
    * pass through verbatim.  The rewrite lands in `<tbl>__cstage`
    * (bucketed like the live table, one task per bucket so the base
    * is one file per bucket), then drop + rename — the crash window
    * between them is repaired by [[recoverSwaps]]. */
  def swapFold(spark: SparkSession, tbl: String, committed: Set[Long],
      build: (DataFrame, Column) => DataFrame): Unit = {
    val live = spark.table(tbl)
    val inFold = col("batch_id").isin(foldableIds(spark, tbl, committed): _*)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
    // re-select the LIVE column order: a build that joins (e.g. an
    // erasing anti-join, which moves its key first) must not change
    // the staged table's column ORDER — later ingests append with
    // positional insertInto, so an order drift here would silently
    // write columns crosswise on the first post-compaction batch
    val folded = build(live.where(inFold), lit(compactedBatchId))
      .select(live.columns.map(col).toIndexedSeq: _*)
    val staged = folded.unionByName(live.where(!inFold))
    val stage = s"${tbl}__cstage"
    graft.sources.Tables.dropWithLocation(spark, stage)
    val shaped = spec.fold(staged.coalesce(1))(sp =>
      staged.repartition(sp.numBuckets, sp.bucketColumnNames.map(col).toIndexedSeq: _*))
    val w = shaped.write.partitionBy("batch_id").format("parquet")
    spec.fold(w)(sp => w.bucketBy(sp.numBuckets, sp.bucketColumnNames.head,
      sp.bucketColumnNames.tail.toIndexedSeq: _*))
      .saveAsTable(stage)
    graft.sources.Tables.dropWithLocation(spark, tbl)
    Dedup.renameWithPartitions(spark, stage, tbl)
  }

  /** Fold the marker table to one file, preserving EVERY committed id
    * — the seen gate is what keeps folded partitions replay-safe, so
    * the fold must never lose an id. */
  def foldMarkerTable(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(s"${name}_batches")) {
      val stage = s"${name}_batches__cstage"
      graft.sources.Tables.dropWithLocation(spark, stage)
      spark.table(s"${name}_batches").distinct().coalesce(1)
        .write.format("parquet").saveAsTable(stage)
      graft.sources.Tables.dropWithLocation(spark, s"${name}_batches")
      spark.sql(s"ALTER TABLE `$stage` RENAME TO `${name}_batches`")
    }

  /** The purge LEDGER table of a standalone index family
    * (`<name>_purged`): one canonical `id` column, `batch_id`-
    * partitioned like every family table.  [[graft.ext.Purge]]'s
    * per-family purge lands retracted ids here; until the family's
    * erasing compaction physically drops their rows, every probe
    * masks against it ([[purgedIds]]); the compaction folds it to
    * empty LAST ([[foldLedgerEmpty]]). */
  def purgedTable(name: String): String = s"${name}_purged"

  /** Distinct ids awaiting erasure for index family `name`, as a
    * one-column (`id`) frame — None when the family has never been
    * purged (no ledger table), so un-purged deployments keep their
    * exact probe plans.  The frame is bounded by takedown churn
    * between compactions (and EMPTY — one zero-row base partition —
    * right after an erasing compaction), so probes broadcast it.
    *
    * COMMITTED partitions only (marked batches + negative system
    * partitions): an unmarked ledger partition belongs to a purge
    * that crashed before its marker, whose derived retraction (BM25's
    * signed vocab/stats deltas, the hygiene witness counts) never
    * landed — masking or erasing those ids now would serve a state
    * matching neither pre- nor post-purge, and for BM25 the erase
    * would wedge the replay forever (the postings its membership
    * require() needs would already be gone).  Until the purge is
    * REPLAYED, probes serve the exact pre-purge corpus — consistent,
    * and the documented recovery. */
  def purgedIds(spark: SparkSession, name: String): Option[DataFrame] =
    if (spark.catalog.tableExists(purgedTable(name))) {
      val committed = committedIds(spark, name)
      Some(spark.table(purgedTable(name))
        .where(col("batch_id") < 0L ||
          col("batch_id").isin(committed.toSeq: _*))
        .select(col("id")).distinct())
    } else None

  /** Fail loudly when the family's purge ledger holds partitions of
    * UNMARKED batches — a purge crashed between its ledger write and
    * its marker.  Every ERASING compaction calls this first: folding
    * past an orphan would either silently skip its ids (the operator
    * believes the takedown is done) or — if the ids were erased —
    * physically drop rows whose derived retraction never landed,
    * permanently corrupting BM25's N/avgdl/df and wedging the replay
    * (its membership require() would find the postings already gone).
    * The recovery is to REPLAY the purge with the same batch id, then
    * re-run the compaction.  One partition-pruned metadata scan of
    * the churn-sized ledger. */
  def requireLedgerCommitted(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(purgedTable(name))) {
      val committed = committedIds(spark, name)
      val orphans = spark.table(purgedTable(name)).select("batch_id")
        .where(col("batch_id") >= 0L).distinct()
        .collect().map(_.getLong(0)).filterNot(committed).sorted
      require(orphans.isEmpty,
        s"$name: purge ledger holds partition(s) of unmarked batch(es) " +
          s"${orphans.mkString(", ")} — a purge crashed before its " +
          "marker landed.  Replay the purge (purge*Index / purgeDocs " +
          "with the same batch id) before compacting; erasing now " +
          "would drop rows whose derived retraction never landed")
    }

  /** Fold the family's ledger to an empty base — the LAST step of an
    * erasing compaction, after every store's erase has landed: a
    * crash anywhere earlier re-runs with the ledger intact (each
    * erase is an idempotent anti-join), and the family's disjoint-id
    * ingest contract (a purged id is never re-ingested) means the
    * emptied ledger has nothing left to mask. */
  def foldLedgerEmpty(spark: SparkSession, name: String,
      committed: Set[Long]): Unit =
    if (spark.catalog.tableExists(purgedTable(name)))
      swapFold(spark, purgedTable(name), committed,
        (df, base) => df.limit(0).withColumn("batch_id", base))

  /** Finish any swap a crash interrupted between the live-table drop
    * and the stage rename.  `partitioned` names the tables that need
    * the partition-aware rename (MSCK SYNC).  Idempotent; returns
    * true if any repair ran. */
  def recoverSwaps(spark: SparkSession, tables: Seq[String],
      partitioned: Set[String]): Boolean = {
    val swaps = for {
      tbl <- tables.sorted
      stage = s"${tbl}__cstage"
      if spark.catalog.tableExists(stage) && !spark.catalog.tableExists(tbl)
    } yield {
      if (partitioned(tbl)) Dedup.renameWithPartitions(spark, stage, tbl)
      else spark.sql(s"ALTER TABLE `$stage` RENAME TO `$tbl`")
      tbl
    }
    // a crash BETWEEN the rename and its MSCK sync leaves the live
    // table present but with stale partition metadata — invisible to
    // the missing-table check above — so re-sync every existing
    // partitioned table unconditionally, making rename+sync
    // idempotent under "re-run compaction"
    for (tbl <- tables.sorted if partitioned(tbl)
         if spark.catalog.tableExists(tbl))
      spark.sql(s"MSCK REPAIR TABLE `$tbl` SYNC PARTITIONS")
    swaps.nonEmpty
  }
}
