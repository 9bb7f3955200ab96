package graft.ext

import graft.functions.ColFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Each comes in two layers: a *signature* (per-row, embarrassingly
  * parallel, codegen'd Column expressions) and a *pairing* step that
  * only ever joins within LSH buckets — never an all-pairs cross
  * join — so the shuffle volume is O(rows × bands), not O(rows²),
  * and the plan survives a 100 TB corpus.
  */
object Dedup {

  /** result → the MEMORY_AND_DISK inputs its plan reads, so callers
    * can release them once the result is consumed.  Weakly keyed:
    * dropping the result without cleanup just leaves the cache block
    * to session teardown (the pre-existing behavior). */
  private val persistedInputs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]())

  private[graft] def registerCleanup(result: DataFrame, handles: DataFrame*): DataFrame = {
    persistedInputs.put(result, handles.toSeq)
    result
  }

  /** Release the cached intermediate tables behind a DataFrame
    * returned by [[lshPairs]] / [[ngramJaccardPairs]].  Call after
    * the result has been consumed (written / collected); a no-op for
    * anything else. */
  def unpersistInputsOf(result: DataFrame): Unit = {
    val hs = persistedInputs.remove(result)
    if (hs != null) hs.foreach(_.unpersist())
  }

  /** Parallelism floor for compute-heavy signature prep: scan
    * parallelism is capped by the input's split count (parquet row
    * groups), and a few-row-group file serializes the whole
    * tokenize/shingle/md5 pass on a handful of tasks while every
    * other core idles.  When a SCAN-SHAPED input exposes fewer
    * partitions than the session's default parallelism, redistribute
    * rows first — the per-row signature compute vastly exceeds the
    * cost of one extra shuffle of the raw text.  On a real corpus
    * (splits >> cores) this is a no-op and the scan streams splits
    * directly.
    *
    * The probe (`df.rdd.getNumPartitions`) runs only when the plan
    * contains no shuffle-inducing operator: on a bare scan chain it
    * just plans (cheap), whereas under AQE a `.rdd` on a plan WITH
    * joins/aggregations would eagerly execute their shuffle stages
    * — and such inputs already carry ≥ shuffle.partitions
    * parallelism, so the floor has nothing to fix there. */
  private[ext] def parallelized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffles = df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Distinct | _: Deduplicate |
           _: RepartitionOperation | _: Window | _: Sort | _: SetOperation => true
      case _ => false
    }
    lazy val target = df.sparkSession.sparkContext.defaultParallelism
    if (!shuffles && df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Injective string encoding of a key tuple for hashing: per field,
    * `v<len>:<value>` for non-null values and a bare `n;` tag for
    * NULL.  The length prefix pins field boundaries (no value can
    * bleed into the next field) and the tag keeps NULL distinct from
    * every string including "", so `md5(encoding)` groups exactly
    * like GROUP BY on the raw columns (modulo md5 collisions).
    * Float/double fields are normalized with `+ 0` first: grouping
    * treats -0.0 and 0.0 as one key, but their string casts differ —
    * adding positive zero folds -0.0 into 0.0 and changes nothing
    * else. */
  private def nullSafeKeyEncoding(df: DataFrame, keyCols: Seq[String]): Column =
    concat(keyCols.map { k =>
      val raw = df.schema(k).dataType match {
        case org.apache.spark.sql.types.DoubleType => col(k) + lit(0.0d)
        case org.apache.spark.sql.types.FloatType  => col(k) + lit(0.0f)
        case _                                     => col(k)
      }
      val sv = raw.cast("string")
      coalesce(concat(lit("v"), length(sv).cast("string"), lit(":"), sv), lit("n;"))
    }.toIndexedSeq: _*)

  /** Exact dedup: one survivor per distinct value of `keyCols`, the
    * row minimizing `tieBreak` (deterministic).  Single hash-agg
    * shuffle on the dedup key; `min_by` keeps whole rows without
    * materializing groups.
    *
    * `hashKey = true` groups by `md5` of the key columns instead of
    * the raw values: on long-text keys the shuffle row then carries
    * the text once (inside the survivor struct) rather than twice —
    * the right call when the key IS the document.  md5 collisions
    * (2^-64-ish at corpus scale) would merge distinct documents.
    * The hashed encoding is injective on the key tuple: each field
    * is length-prefixed and NULL carries its own tag, so NULL vs
    * empty string, NULLs in different positions, and
    * boundary-straddling values all hash apart — exactly the groups
    * `hashKey = false` (and a SQL GROUP BY) would form. */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String,
      hashKey: Boolean = false): DataFrame = {
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    val groupCols =
      if (hashKey) Seq(md5(nullSafeKeyEncoding(df, keyCols)).as("__gk"))
      else keyCols.map(col)
    df.groupBy(groupCols: _*)
      .agg(min_by(all, col(tieBreak)).as("survivor"))
      .select("survivor.*")
  }

  /** Shared LSH prep: (id, sh) with sh = SORTED DISTINCT word
    * n-gram shingles (sorted so verification is the allocation-free
    * merge-walk intersect), parallelism-floored. */
  private def shinglePrep(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = array_sort(array_distinct(wordShingles(tokens(col(textCol)), n)))
    parallelized(df).select(col(idCol).as("id"), sh.as("sh"))
  }

  /** Shared LSH banding: (id, band_id, bh) from a shingle table.
    * Per-shingle hashes are materialized in their own projection so
    * the md5 pass runs ONCE; the 16 permutation minima come from the
    * one-pass native [[ColFns.minhashSigArray]], itself materialized
    * once (CollapseProject never inlines the non-cheap signature into
    * its 16 extracts). */
  private def bandedOf(shingleTbl: DataFrame, bands: Int): DataFrame = {
    val rows = MinhashA.size / bands
    val hashed = shingleTbl.select(col("id"), shingleHashes(col("sh")).as("hs"))
    val sig = hashed.select(col("id"), minhashSigArray(col("hs")).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        bandHash((0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1))).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("band"))
      .select(col("id"), col("band.band_id"), col("band.bh"))
  }

  /** doc_id + k minhash columns (m0..m15) over word `n`-gram
    * shingles of `textCol`.  Shingle hashes are materialized in their
    * own projection so the md5 pass runs once, not once per
    * permutation (same reasoning as [[lshPairs]]). */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = array_distinct(wordShingles(tokens(col(textCol)), n))
    df.select(col(idCol), shingleHashes(sh).as("__hs"))
      .select(col(idCol), minhashSigArray(col("__hs")).as("__sig"))
      .select(Seq(col(idCol)) ++ MinhashA.indices.map(i =>
        element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** LSH candidate pairs: documents sharing any minhash band bucket,
    * verified with exact shingle-set Jaccard.  `bands` × `rows` must
    * equal the signature width (16).
    *
    * Scale shape: the banded self-join carries only (band_id, bh, id)
    * — never the shingle arrays — so band-join shuffle volume is
    * O(rows × bands × ~30 bytes).  Shingle sets are joined in only
    * for the deduplicated candidate pairs (the LSH guarantee is that
    * candidates are rare).  The shingle table is persisted because
    * three plan branches read it; it is spill-safe (MEMORY_AND_DISK).
    *
    * Cache ownership: the persisted prep block lives until the
    * session ends or the caller releases it — consume the result,
    * then call [[unpersistInputsOf]] on it (long-lived sessions
    * issuing many dedup calls should always do so). */
  def lshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, minJaccard: Double = 0.0): DataFrame = {
    // sorted+distinct ONCE at prep so pair verification can use the
    // allocation-free sorted merge-walk intersect count
    val shingleTbl = shinglePrep(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The banded signature table is persisted too (r19): the band
    // self-join reads it from BOTH sides, and the executed plans show
    // the two sides are NOT deduplicated at runtime — at bench scale
    // one side broadcasts (two sig computations over the cached
    // prep), and with broadcast off (the 100 TB regime) the two
    // exchanges stay separate with no ReusedExchange
    // (plans/r19/q17_minhash_lsh_executed_nobroadcast_before.txt) —
    // so without this cut the md5-per-shingle + 16-permutation
    // signature pass runs TWICE per corpus (guide §2.4, share one
    // materialization).  The block is (id, band_id, bh) × bands rows
    // per doc — far smaller than the shingle cache that already
    // lives beside it.
    val banded = bandedOf(shingleTbl, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = banded.select(col("band_id"), col("bh"), col("id").as("id_a"))
      .join(banded.select(col("band_id"), col("bh"), col("id").as("id_b")),
        Seq("band_id", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct() // dedup multi-band hits BEFORE fetching shingles
    // |A∪B| = |A|+|B|-|A∩B| for distinct arrays: counting the union
    // via the intersect avoids materializing a second merged array
    // per candidate pair (bit-identical result, integer math)
    val inter = sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val jac = inter /
      ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter)
    registerCleanup(
      cands
        .join(shingleTbl.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(shingleTbl.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), jac.as("jaccard"))
        .where(col("jaccard") >= minJaccard),
      shingleTbl, banded)
  }

  /** 64-bit simhash over token hashes, returned as two unsigned
    * 32-bit halves (hi, lo) so the value stays positive in int64.
    * One explode + one 64-way sum aggregation — a single shuffle. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .select(col(idCol), h32hi(col("t")).as("hi"), h32lo(col("t")).as("lo"))
    val sums = (0 until 32).flatMap { j =>
      Seq(sum(when(shiftright(col("hi"), j) % 2 === 1, 1).otherwise(-1)).as(s"shi$j"),
          sum(when(shiftright(col("lo"), j) % 2 === 1, 1).otherwise(-1)).as(s"slo$j"))
    }
    val agg = tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    def assemble(pfx: String): Column =
      (0 until 32).map(j =>
        when(col(s"$pfx$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    agg.select(col(idCol), assemble("shi").as("simhash_hi"),
      assemble("slo").as("simhash_lo"))
  }

  /** Character n-gram Jaccard near-dup pairs, blocked by language and
    * a length band (`lenBand` chars) instead of all-pairs — candidate
    * count stays linear-ish in corpus size for natural length
    * distributions.
    *
    * Verification runs over md5-derived 60-bit HASHES of the n-grams,
    * not the gram strings: the merge-walk intersect then compares
    * primitive longs (one codegen'd compare per element, ~4× cheaper
    * than string memcmp at verification volume = Σblock² pairs), and
    * the blocked join shuffles compact long arrays instead of string
    * arrays.  Jaccard over the hashed sets equals Jaccard over the
    * gram sets except under a 60-bit collision *within one document
    * pair's union* (~10^-14 per pair) — and because the hash is a
    * deterministic md5 slice, an oracle replaying the same hash sees
    * the identical result either way. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      langCol: String, n: Int = 5, lenBand: Long = 64,
      minJaccard: Double = 0.05): DataFrame = {
    // both join branches read prep; persist so the n-gram arrays are
    // built once, not once per side
    // sorted+distinct once per doc → pair verification runs the
    // allocation-free sorted merge-walk intersect count
    val prep = parallelized(df).select(col(idCol).as("id"), col(langCol).as("lang"),
      array_sort(array_distinct(transform(
        charShingles(lower(col(textCol)), n), gs => h60(gs)))).as("g"),
      floor(length(col(textCol)) / lenBand).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a doc joins its own bucket and the next (so neighbors split by a
    // boundary still pair up)
    val l = prep.select(col("lang"), col("bucket"), col("id").as("id_a"), col("g").as("g_a"))
    val r = prep.withColumn("bucket", explode(array(col("bucket"), col("bucket") + 1)))
      .select(col("lang"), col("bucket"), col("id").as("id_b"), col("g").as("g_b"))
    // |A∪B| = |A|+|B|-|A∩B| (distinct arrays): skip building the
    // union array; and jac ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
    // whose size ratio is below the threshold can be pruned BEFORE
    // the O(|A|+|B|) intersect — semantics-preserving (only drops
    // pairs that mathematically cannot reach minJaccard)
    val inter = sortedIntersectCount(col("g_a"), col("g_b")).cast("double")
    val jac = inter /
      ((size(col("g_a")) + size(col("g_b"))).cast("double") - inter)
    registerCleanup(
      l.join(r, Seq("lang", "bucket"))
        .where(col("id_a") < col("id_b"))
        .where(least(size(col("g_a")), size(col("g_b"))).cast("double") >=
          lit(minJaccard) * greatest(size(col("g_a")), size(col("g_b"))).cast("double"))
        .select(col("id_a"), col("id_b"), jac.as("jaccard"))
        .groupBy("id_a", "id_b").agg(max("jaccard").as("jaccard"))
        .where(col("jaccard") >= minJaccard),
      prep)
  }

  /** The batch_id the initial [[writeLshIndex]] bootstrap lands
    * under — below every stream/ingest batch id (those start at 0). */
  val bootstrapBatchId: Long = -1L

  /** Persist the minhash-LSH dedup index for a corpus as two
    * partitioned + bucketed tables — the production shape for a
    * CONTINUOUSLY-INGESTED corpus, where recomputing signatures over
    * 100 TB per arriving batch ([[lshPairs]]'s shape) is the thing to
    * avoid:
    *
    *  - `<name>_bands`   (id, band_id, bh), bucketed by the band
    *    join's full key (`band_id`, `bh`): the incremental band join
    *    probes this pre-hashed side WITHOUT shuffling it — only the
    *    (small) new batch moves.  (A table written before the two-key
    *    bucketing, on `bh` alone, does not satisfy the join's
    *    distribution, so its scan re-shuffles per probe until
    *    [[writeLshIndex]] rebuilds it; appends and compactions follow
    *    whatever spec the catalog holds.);
    *  - `<name>_shingles` (id, sh), bucketed by `id`: candidate-pair
    *    verification fetches stored shingle sets by id.
    *
    * Both are additionally PARTITIONED by `batch_id`, which is what
    * makes per-batch appends IDEMPOTENT: [[appendToLshIndex]] lands a
    * batch with dynamic partition overwrite, so a crash-replay
    * REPLACES the batch's own partition instead of appending a second
    * copy — the index can never hold a document's signature twice, and
    * readers need no defensive dedup.  Bucket files group by bucket id
    * across partition directories, so the probe-side no-shuffle
    * contract is untouched by the partitioning.
    *
    * Write once, then per batch: [[lshPairsAgainstIndex]] +
    * [[appendToLshIndex]]. */
  def writeLshIndex(df: DataFrame, idCol: String, textCol: String,
      name: String, n: Int = 3, bands: Int = 8, buckets: Int = 16): Unit = {
    // a REBUILD carries no purge debt and no marked batches: a stale
    // `_purged` ledger from a prior instance under the same name would
    // silently mask fresh ingests out of candidate generation (and the
    // next compaction would erase them), and a stale `_batches` marker
    // would no-op their ingest entirely — the same drops
    // [[Retrieval.writeBm25Index]] / [[AnnIndex.writeAnnIndex]] do
    Seq(IndexLifecycle.purgedTable(name), s"${name}_batches").foreach(t =>
      graft.sources.Tables.dropWithLocation(df.sparkSession, t))
    writeIndexTables(df, idCol, textCol, name, n, bands, buckets,
      bootstrapBatchId, initial = true)
  }

  /** Append a processed batch to the index (same bucket spec, so the
    * co-location contract survives).  Call AFTER
    * [[lshPairsAgainstIndex]] on that batch — ids must not repeat
    * across batches, and `batchId` must be unique per batch (reusing
    * one OVERWRITES that batch's partition: replay-idempotence). */
  def appendToLshIndex(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, name: String, n: Int = 3, bands: Int = 8,
      buckets: Int = 16): Unit =
    writeIndexTables(batch, idCol, textCol, name, n, bands, buckets,
      batchId, initial = false)

  /** The single definition of the index's table shape — write and
    * append MUST stay identical or the bucket co-location contract
    * silently breaks between them.  `initial` creates the tables
    * (partitioned by batch_id, bucketed); appends INSERT OVERWRITE
    * the batch's own partition (dynamic mode), which is a no-op-shaped
    * replace on replay: the closest plain-parquet gets to a
    * transactional append, and exactly what foreachBatch's
    * at-least-once redelivery needs. */
  private def writeIndexTables(df: DataFrame, idCol: String, textCol: String,
      name: String, n: Int, bands: Int, buckets: Int,
      batchId: Long, initial: Boolean): Unit = {
    val shingleTbl = shinglePrep(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try landIndexTables(shingleTbl, bandedOf(shingleTbl, bands), name, buckets,
      batchId, initial)
    finally shingleTbl.unpersist()
  }

  /** Land one batch's prepared shingle and band rows: `_shingles`
    * first, `_bands` second (the order the replay guards key off). */
  private def landIndexTables(shingleTbl: DataFrame, banded: DataFrame,
      name: String, buckets: Int, batchId: Long, initial: Boolean): Unit = {
    writeIndexTable(shingleTbl.withColumn("batch_id", lit(batchId)),
      s"${name}_shingles", buckets, Seq("id"), initial)
    writeIndexTable(banded.withColumn("batch_id", lit(batchId)),
      s"${name}_bands", buckets, Seq("band_id", "bh"), initial)
  }

  /** A batch's shingle table and its band rows, each persisted: the
    * probe and the index append both read them, so an ingest shingles
    * and bands its batch once.  The caller unpersists both. */
  private def prepBatch(batch: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int): (DataFrame, DataFrame) = {
    val sh = shinglePrep(batch, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (sh, bandedOf(sh, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** `initial` creates `table` bucketed on `bucketCols`; an append
    * follows the bucket spec the catalog holds and repartitions on it
    * first, so each write task holds exactly one bucket and the batch
    * lands one file per bucket (not one per task × bucket) — the idiom
    * [[compactLshIndex]] uses. */
  private def writeIndexTable(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], initial: Boolean): Unit = {
    val spark = df.sparkSession
    if (initial) {
      graft.sources.Tables.dropWithLocation(spark, table)
      df.write.partitionBy("batch_id")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .format("parquet").saveAsTable(table)
    } else {
      val spec = bucketSpecOf(spark, table)
      // Overwrite + dynamic mode replaces ONLY the partitions present
      // in df — i.e. this batch's — leaving every other batch intact
      writeBatchPartitionInto(
        df.repartition(spec.numBuckets, spec.bucketColumnNames.map(col).toIndexedSeq: _*),
        table)
    }
  }

  /** Incremental LSH near-dup: the pairs a new batch introduces —
    * batch↔index and batch↔batch — WITHOUT recomputing any indexed
    * document's signature.  Together with the index's own (already
    * known) pairs this equals a full-corpus [[lshPairs]] run: the
    * signatures are deterministic, so "shares a band bucket with ≥1
    * side in the batch" partitions identically whether the bucket
    * table was stored or recomputed (q72's oracle checks exactly
    * that).
    *
    * Scale shape: new bands probe the index's band table, bucketed on
    * the join key (`band_id`, `bh`), so the index side does NOT
    * shuffle (PlanShapeSpec pins that no exchange sits over its
    * scan); candidates are deduped ids-only before any shingle fetch;
    * the stored shingle table is semi-join-pruned to candidate ids
    * BEFORE the fetch joins (broadcast ids while they fit
    * `maxBroadcastBytes` — a BYTE bound, so wide string ids are safe —
    * shuffle semi-join above, with a logged note), so the per-batch
    * shuffle is O(batch + candidates) — the stored shingle arrays
    * never reshuffle wholesale.  Batch ids must be disjoint from
    * indexed ids.  NOTE: sizing the guard materializes the candidate
    * cache, so calling this runs the band-probe jobs eagerly (the
    * cache is what the verification joins then reuse — consumed
    * results pay nothing extra; explain-only callers pay the probe). */
  def lshPairsAgainstIndex(newBatch: DataFrame, idCol: String, textCol: String,
      name: String, n: Int = 3, bands: Int = 8,
      minJaccard: Double = 0.0,
      maxBroadcastBytes: Long = DefaultMaxBroadcastBytes): DataFrame = {
    val (newSh, newBands) = prepBatch(newBatch, idCol, textCol, n, bands)
    val (pairs, handles) = probeIndex(newSh, newBands, name, minJaccard,
      maxBroadcastBytes)
    registerCleanup(pairs, Seq(newSh, newBands) ++ handles: _*)
  }

  /** Default byte budget for the probe's broadcast candidate ids. */
  private val DefaultMaxBroadcastBytes: Long = 256L << 20

  /** [[lshPairsAgainstIndex]] over a prepared batch ([[prepBatch]]).
    * Returns the pairs and the caches behind them (the candidate
    * pairs, and the id cache when the guard had to size one).
    *
    * The candidate pairs are materialized ONCE (persist): the id
    * prune and both verification joins read them.  The prune's guard
    * needs the candidate ids' size before planning the broadcast.
    * For fixed-width ids the byte budget is an exact row bound
    * (UnsafeRow: 8-byte null bitset + one 8-byte slot per id), so the
    * ids are collected straight off the candidate cache — the same
    * job materializes it — under that bound, further capped at
    * [[Components.DefaultMaxDriverCloseEdges]] pairs since the driver
    * holds them, and broadcast as a local frame.  Past either cap, and for variable-width ids, the ids are
    * persisted and counted so the cached-size statistic is real, and
    * that size decides broadcast vs shuffle semi-join. */
  private def probeIndex(newSh: DataFrame, newBands: DataFrame, name: String,
      minJaccard: Double, maxBroadcastBytes: Long): (DataFrame, Seq[DataFrame]) = {
    val spark = newSh.sparkSession
    // purge mask: between a [[graft.ext.Purge.purgeLshIndex]] and the
    // erasing compaction the index still holds purged docs'
    // signatures — a stored band of a purged doc must not pair with
    // the arriving batch (the [[graft.ext.Hygiene]] ledger-mask
    // contract, here against the family's own ledger).  Broadcast
    // anti-joins, ledger is takedown-churn-sized; absent a ledger
    // table the probe plan is untouched.
    val mask: DataFrame => DataFrame = df =>
      IndexLifecycle.purgedIds(spark, name).fold(df)(p =>
        df.join(broadcast(p), Seq("id"), "left_anti"))
    val idxBands = mask(spark.table(s"${name}_bands"))
    val idxSh = mask(spark.table(s"${name}_shingles"))
    // batch↔index candidates: the stored side is bucketed on the join
    // key, so only the new bands shuffle into the probe
    val vsIndex = newBands.select(col("band_id"), col("bh"), col("id").as("id_x"))
      .join(idxBands.select(col("band_id"), col("bh"), col("id").as("id_y")),
        Seq("band_id", "bh"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    // batch↔batch candidates: the tiny self-join
    val vsSelf = newBands.select(col("band_id"), col("bh"), col("id").as("id_a"))
      .join(newBands.select(col("band_id"), col("bh"), col("id").as("id_b")),
        Seq("band_id", "bh"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val cands = vsIndex.unionByName(vsSelf).distinct() // ids-only dedup FIRST
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prune the stored shingle table to candidate ids BEFORE the fetch
    // joins: a bare union of the full table would give the fetch joins
    // an unpartitioned input and re-Exchange every stored shingle
    // array per batch.  The broadcast semi-join scans the stored table
    // once, shuffle-free; candidate ids are bounded by LSH rarity, and
    // a pathological batch falls back to a shuffle semi-join.
    val candIds = cands.select(col("id_a").as("id"))
      .unionByName(cands.select(col("id_b").as("id"))).distinct()
    val idType = cands.schema("id_a").dataType
    val collected =
      if (!org.apache.spark.sql.catalyst.expressions.UnsafeRow.isFixedLength(idType)) None
      else {
        val idRowBytes = 16L
        val cap = math.min(maxBroadcastBytes / idRowBytes,
          Components.DefaultMaxDriverCloseEdges.toLong).toInt
        val rows = cands.limit(cap + 1).collect()
        val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSeq.distinct
        if (rows.length <= cap && ids.size * idRowBytes <= maxBroadcastBytes) Some(ids)
        else None
      }
    val (idsSide, handles) = collected match {
      case Some(ids) =>
        (broadcast(spark.createDataFrame(
          java.util.Arrays.asList(ids.map(org.apache.spark.sql.Row(_)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", idType))))), Seq(cands))
      case None =>
        val cached = candIds
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count() // materialize so the cached-size statistic is real
        // byte-based guard: broadcast limits and driver memory are byte
        // budgets, and ids can be wide strings — a row-count bound would
        // pass 4M×200-byte URLs straight into a driver OOM
        val idBytes = cached.queryExecution.optimizedPlan.stats.sizeInBytes
        if (idBytes <= maxBroadcastBytes) (broadcast(cached), Seq(cands, cached))
        else {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"lshPairsAgainstIndex: candidate id cache is $idBytes bytes, over " +
              s"maxBroadcastBytes=$maxBroadcastBytes — shuffle semi-join fallback")
          (cached, Seq(cands, cached))
        }
    }
    // no dedup needed on the stored slice: appendToLshIndex lands each
    // batch as its own overwritten partition, so a crash-replay can
    // never leave a document's shingles in the index twice
    val allSh = idxSh.select(col("id"), col("sh"))
      .join(idsSide, Seq("id"), "left_semi").unionByName(newSh)
    val inter = sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double")
    val jac = inter /
      ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter)
    (cands
      .join(allSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(allSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .where(col("jaccard") >= minJaccard), handles)
  }

  /** Land `df` as `table`'s `batch_id=batchId` partition — creating
    * the partitioned table on first use, dynamic-overwriting the
    * batch's own partition afterwards.  Replay = replace: the
    * append-idempotence contract shared with the index tables.
    * Single-writer, like every ingest entry point. */
  private def writeBatchPartition(df: DataFrame, table: String, batchId: Long): Unit = {
    val spark = df.sparkSession
    val withB = df.withColumn("batch_id", lit(batchId))
    if (!spark.catalog.tableExists(table))
      withB.write.partitionBy("batch_id").format("parquet").saveAsTable(table)
    else {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try withB.write.mode(org.apache.spark.sql.SaveMode.Overwrite).insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** One IDEMPOTENT ingest step for a continuously-maintained index:
    * probe the stored index for the near-dup pairs `batch` introduces
    * (batch↔index and batch↔batch), land them as `pairsTable`'s
    * `batch_id` partition, append the batch's bands/shingles to the
    * index, and mark `batchId` done in `<name>_batches`.  Re-running
    * an already-marked batch id is a no-op (returns false) —
    * [[graft.streaming.StreamingAgg.lshIndexSink]] relies on this for
    * foreachBatch's at-least-once recovery contract.
    *
    * The marker commits LAST, so a crash mid-step replays the whole
    * step — and every stage of the replay is exactly-once.  The two
    * replay guards are deliberately SPLIT across the two index tables
    * ([[writeIndexTables]] lands `_shingles` first, `_bands` second):
    * the re-probe guard keys off the FIRST-written table, the
    * re-append guard off the LAST-written one, so every crash point —
    * including the window between the two table writes — replays
    * correctly:
    *  - crash before the pairs write committed: nothing landed;
    *    replay recomputes against the still-clean index;
    *  - crash between pairs and index append: replay recomputes the
    *    SAME pairs (the index is still clean) and dynamic-overwrites
    *    the batch's pairs partition — replace, never duplicate;
    *  - crash BETWEEN the two index table writes (`_shingles` landed,
    *    `_bands` not): replay must NOT re-probe — the index already
    *    holds the batch's own shingles, so a fresh probe would fetch
    *    every candidate's shingles twice (stored slice ∪ fresh batch)
    *    and land duplicated pair rows as the partition's final
    *    content.  [[indexHasShingles]] detects the landed first table
    *    and skips the probe (pairs committed before any index write,
    *    so their partition is complete); [[indexHasBatch]] sees the
    *    missing `_bands` partition and re-runs the append, which
    *    dynamic-overwrites BOTH partitions — idempotent;
    *  - crash after the full index append: both guards fire — replay
    *    skips straight to the marker.
    * DedupSpec "half-append crash window" pins the between-writes
    * case by deleting only the `_bands` partition and replaying.
    * No reader dedups anything.  What this form does NOT give is
    * atomic cross-file visibility — a reader overlapping a replay can
    * observe a partition mid-rewrite on object stores (HDFS-like
    * commit protocols make it unobservable).  For manifest-committed
    * visibility (plus vacuum/compact tooling), use
    * [[ingestBatchIntoIndexTx]].  Batch ids must be disjoint from
    * already-indexed ids. */
  def ingestBatchIntoIndex(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, name: String, pairsTable: String, n: Int = 3,
      bands: Int = 8, buckets: Int = 16, minJaccard: Double = 0.0): Boolean = {
    val spark = batch.sparkSession
    if (batchMarked(spark, name, batchId)) false
    else {
      val (sh, bd) = prepBatch(batch, idCol, textCol, n, bands)
      try {
        // Re-probe guard: keyed off _shingles, the FIRST table the
        // append writes — its presence means the probe+pairs stage
        // completed AND the index may hold the batch's own signatures
        val probed = !indexHasShingles(spark, name, batchId)
        if (probed) {
          val (pairs, handles) = probeIndex(sh, bd, name, minJaccard, DefaultMaxBroadcastBytes)
          try writeBatchPartition(pairs, pairsTable, batchId)
          finally handles.foreach(_.unpersist())
        }
        // Re-append guard: keyed off _bands, the LAST table the append
        // writes — absent means the append is owed (in full or from a
        // half-append crash); the re-run overwrites both partitions.
        // After a probe it is owed by construction (no _shingles
        // partition, so no _bands one either)
        if (probed || !indexHasBatch(spark, name, batchId))
          landIndexTables(sh, bd, name, buckets, batchId, initial = false)
        markBatch(spark, name, batchId)
        true
      } finally { bd.unpersist(); sh.unpersist() }
    }
  }

  /** Has `<name>_batches` marked `batchId`?  One scan of the marker
    * table (a plain collect: each id is marked at most once, and a
    * limit would rescan its one-file-per-batch partitions in rounds). */
  private def batchMarked(spark: SparkSession, name: String, batchId: Long): Boolean =
    spark.catalog.tableExists(s"${name}_batches") &&
      spark.table(s"${name}_batches").where(col("batch_id") === batchId)
        .select("batch_id").collect().nonEmpty

  /** Append `batchId` to `<name>_batches` — the ingest's last step. */
  private def markBatch(spark: SparkSession, name: String, batchId: Long): Unit =
    spark.range(1).select(lit(batchId).as("batch_id")).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(s"${name}_batches")

  /** Re-probe guard: has `batchId`'s SHINGLE partition landed?
    * `_shingles` is the FIRST table [[writeIndexTables]] writes, so
    * its presence means the probe+pairs stage completed (pairs always
    * commit before any index write) and the index may already hold
    * the batch's own signatures — a fresh probe past this point would
    * fetch candidates' shingles from both the stored slice and the
    * batch and emit duplicated pairs.  Gating the probe on `_bands`
    * (written SECOND) instead would miss the half-append crash window
    * between the two writes — exactly the bug this split fixes.
    * One partition-pruned existence probe. */
  private def indexHasShingles(spark: SparkSession, name: String, batchId: Long): Boolean =
    partitionLanded(spark, s"${name}_shingles", batchId)

  /** Re-append guard: has `batchId`'s BAND partition landed?
    * `_bands` is the LAST table [[writeIndexTables]] writes, so its
    * presence means the whole index append completed.  Absent bands →
    * re-run [[appendToLshIndex]], which dynamic-overwrites BOTH
    * partitions (idempotent whether the crash left zero, one, or a
    * partially-visible table behind). */
  private def indexHasBatch(spark: SparkSession, name: String, batchId: Long): Boolean =
    partitionLanded(spark, s"${name}_bands", batchId)

  /** One partition-pruned existence probe (a take of one row: an
    * absent partition has no files, so no job runs at all). */
  private def partitionLanded(spark: SparkSession, table: String, batchId: Long): Boolean =
    spark.catalog.tableExists(table) &&
      spark.table(table).where(col("batch_id") === batchId).limit(1).collect().nonEmpty

  /** EXACTLY-ONCE twin of [[ingestBatchIntoIndex]]: the user-facing
    * pairs output goes through a [[graft.sources.TxLog]] manifest
    * commit (stage → one atomic marker publish) at `pairsDir`, so a
    * crash-replay can never duplicate a batch's pairs and readers
    * ([[graft.sources.TxLog.readCommitted]]) need no defensive
    * DISTINCT.  The internal bands/shingles appends are replay-safe
    * too: each batch lands as its own overwritten partition
    * ([[appendToLshIndex]]), so a replay replaces rather than
    * duplicates — end-to-end, no step of this protocol can double a
    * row, and no reader dedups anything.
    *
    * Crash matrix (replay = calling this again with the same batch):
    *  - before the pairs commit: everything re-runs, one commit wins;
    *  - after pairs commit, before index append: pairs skip (marker
    *    exists), index partition lands once;
    *  - BETWEEN the two index table writes (`_shingles` landed,
    *    `_bands` not): pairs skip (marker exists — this path never
    *    re-probes after the commit, so the half-append window that
    *    bites a probe-after-append design cannot produce pairs here);
    *    [[indexHasBatch]] sees the missing `_bands` partition and
    *    re-runs the append, overwriting both partitions.  Pinned by
    *    DedupSpec "Tx half-append crash window";
    *  - after index append, before `<name>_batches` marker: pairs
    *    skip, index partition is overwritten in place, marker lands. */
  def ingestBatchIntoIndexTx(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, name: String, pairsDir: String, n: Int = 3,
      bands: Int = 8, buckets: Int = 16, minJaccard: Double = 0.0): Boolean = {
    val spark = batch.sparkSession
    if (batchMarked(spark, name, batchId)) false
    else {
      // shingled and banded once: the probe and the append share them
      val (sh, bd) = prepBatch(batch, idCol, textCol, n, bands)
      try {
        val probed = !graft.sources.TxLog.isCommitted(spark, pairsDir, batchId)
        if (probed) {
          val (pairs, handles) = probeIndex(sh, bd, name, minJaccard, DefaultMaxBroadcastBytes)
          val committed =
            try graft.sources.TxLog.commitBatch(pairs, pairsDir, batchId)
            finally handles.foreach(_.unpersist())
          // commitBatch returns false ONLY for a verified already-
          // committed batch (any real I/O failure propagates); re-check
          // so the index append + batch marker can never record a batch
          // whose pairs did not land
          require(committed || graft.sources.TxLog.isCommitted(spark, pairsDir, batchId),
            s"TxLog batch $batchId reported already-committed but no marker is visible")
        }
        // skip the (idempotent) re-append when the partition already
        // landed — a replay past this stage only owes the marker.  The
        // append follows the pairs commit, so a batch whose pairs were
        // uncommitted on entry owes it without asking
        if (probed || !indexHasBatch(spark, name, batchId))
          landIndexTables(sh, bd, name, buckets, batchId, initial = false)
        markBatch(spark, name, batchId)
        true
      } finally { bd.unpersist(); sh.unpersist() }
    }
  }

  /** Reserved batch_id the compacted index base lands under — below
    * [[bootstrapBatchId]] and every real (≥ 0) ingest batch id, so a
    * fold can never collide with a batch partition. */
  val compactedBatchId: Long = -2L

  /** Fold the LSH index's per-batch partitions into one consolidated
    * base — the file-count analog of [[graft.sources.TxLog.compact]],
    * and the step that actually bounds per-batch probe cost at a real
    * ingest cadence: every batch append lands ~tasks×buckets new
    * parquet files across `_bands`/`_shingles` (plus one `_batches`
    * marker file), and the probe reads the WHOLE table, so per-batch
    * wall time grows linearly with batches-since-compaction no matter
    * how aggressively the downstream TxLogs are folded
    * (CurationBench at `4740777:src/main/scala/graft/tools/CurationBench.scala`
    * measured exactly that: TxLog-only compaction left the growth
    * curve unchanged).
    *
    * Replay safety — the part that makes this more than a file
    * rewrite: only partitions whose batch id is MARKED in
    * `<name>_batches` (plus the bootstrap and any prior consolidated
    * partition) are folded into the reserved [[compactedBatchId]]
    * partition.  Marked ids no-op at the `seen` gate before any
    * partition guard is consulted, so folding their partitions away
    * is invisible to replays.  An UNMARKED in-flight batch (a crash
    * between the index append and its marker) passes through with its
    * own partitions intact, so the split [[indexHasShingles]]/
    * [[indexHasBatch]] crash-window guards keep working across a
    * compaction boundary — pinned by DedupSpec "half-append replay
    * works across an index compaction".
    *
    * Each table swaps via a staged twin (`<tbl>__cstage`, same bucket
    * spec read from the catalog so the co-location contract cannot
    * drift) and the consolidated partition is repartitioned to the
    * bucket count first, so the folded base is exactly one file per
    * bucket.  Crash matrix: before the stage completes → live table
    * untouched, a re-run restarts the fold; between the live drop and
    * the stage rename → the index is MISSING (loud, never wrong) and
    * [[recoverLshCompaction]] — run first by every compaction —
    * finishes the swap, so "re-run compaction" is the whole recovery
    * runbook.  Requires a quiesced index (no concurrent ingest): call
    * it from the single maintenance owner, between batches — the same
    * cadence as the TxLog folds. */
  /** @param dropIds single-column frame (`id`) of PURGED doc ids
    *   whose signature rows the fold must ERASE — the LSH leg of the
    *   hygiene right-to-erasure compaction
    *   ([[Hygiene.compactHygiene]]): the folded base anti-joins them
    *   out of both `_shingles` and `_bands`.  Only the folded slice
    *   is erased; an unmarked in-flight partition passes through
    *   untouched (there are none under the erasing caller's quiesced
    *   contract, and touching it would break its replay-replace). */
  /** @param pairsTables batch_id-partitioned PAIR tables (the
    *   [[ingestBatchIntoIndex]] `pairsTable` outputs) to erase in the
    *   same fold: their foldable slice anti-joins the combined drop
    *   set on BOTH endpoints and consolidates under
    *   [[compactedBatchId]].  Recovery is inline (a crash between a
    *   pair table's drop and rename is finished at the next call),
    *   so "re-run the same compaction call" stays the whole runbook.
    * @param pairsTxDirs TxLog PAIR directories (the
    *   [[ingestBatchIntoIndexTx]] `pairsDir` outputs) to erase the
    *   same way, via [[graft.sources.TxLog.compactWith]] — both
    *   endpoints anti-joined, crash recovery is the TxLog protocol's
    *   own (staged fold + marker swap).
    * @param graceMs vacuum grace for the TxLog folds — pass 0 from a
    *   quiesced erasure window for immediate reclaim. */
  def compactLshIndex(spark: SparkSession, name: String,
      dropIds: Option[DataFrame] = None,
      pairsTables: Seq[String] = Nil,
      pairsTxDirs: Seq[String] = Nil,
      graceMs: Long = graft.sources.TxLog.defaultVacuumGraceMs): Unit = {
    recoverLshCompaction(spark, name)
    val tbls = Seq(s"${name}_shingles", s"${name}_bands")
    if (!tbls.forall(spark.catalog.tableExists)) return
    // an unmarked ledger partition = a crashed purge — replay it
    // before erasing (the shared orphan-ledger guard)
    IndexLifecycle.requireLedgerCommitted(spark, name)
    val committed: Set[Long] = committedBatchIds(spark, name)
    // the family's OWN purge ledger ([[graft.ext.Purge.purgeLshIndex]])
    // joins the caller-supplied drop set — either alone erases
    val ledger = IndexLifecycle.purgedIds(spark, name)
      .map(_.localCheckpoint())
    val allDrop: Option[DataFrame] = (dropIds, ledger) match {
      case (Some(a), Some(b)) => Some(a.select(col("id"))
        .unionByName(b).distinct().localCheckpoint())
      case (a, b) => a.map(_.select(col("id"))).orElse(b)
    }
    for (tbl <- tbls) {
      // every negative id is a SYSTEM partition (bootstrap, a prior
      // major base, or a minor-fold generation) — real ingest ids are
      // ≥ 0 — so the major fold collapses all of them plus the marked
      // real batches; an unmarked in-flight batch still passes through
      val system = spark.table(tbl).select("batch_id").distinct()
        .collect().map(_.getLong(0)).filter(_ < 0L)
      val foldable = (committed ++ system + compactedBatchId).toSeq
      val spec = bucketSpecOf(spark, tbl)
      val bucketCols = spec.bucketColumnNames
      val live = spark.table(tbl)
      // repartition on the bucket column with the bucket count: bucket
      // ids are the same murmur3-pmod hash, so each task holds exactly
      // one bucket and the consolidated partition lands as one file
      // per bucket instead of one per (task × bucket)
      val foldedRaw = live.where(col("batch_id").isin(foldable: _*))
      // re-select the live column order: the anti-join moves its key
      // first, and post-compaction appends insertInto POSITIONALLY
      val folded = allDrop.fold(foldedRaw)(p =>
          foldedRaw.join(broadcast(p), Seq("id"), "left_anti"))
        .withColumn("batch_id", lit(compactedBatchId))
        .select(live.columns.map(col).toIndexedSeq: _*)
      val rest = live.where(!col("batch_id").isin(foldable: _*))
      val stage = s"${tbl}__cstage"
      graft.sources.Tables.dropWithLocation(spark, stage)
      folded.unionByName(rest)
        .repartition(spec.numBuckets, bucketCols.map(col).toIndexedSeq: _*)
        .write.partitionBy("batch_id")
        .bucketBy(spec.numBuckets, bucketCols.head, bucketCols.tail.toIndexedSeq: _*)
        .format("parquet").saveAsTable(stage)
      graft.sources.Tables.dropWithLocation(spark, tbl)
      renameWithPartitions(spark, stage, tbl)
    }
    // pair tables: plain batch_id-partitioned — fold the foldable
    // slice (erased on both endpoints) to the base, pass unmarked
    // partitions through, staged-swap like the index tables
    for (pt <- pairsTables) {
      val stage = s"${pt}__cstage"
      // inline recovery: finish a swap a crash left between drop and
      // rename (only this call writes these tables)
      if (spark.catalog.tableExists(stage) &&
          !spark.catalog.tableExists(pt))
        renameWithPartitions(spark, stage, pt)
      if (spark.catalog.tableExists(pt)) {
        spark.sql(s"MSCK REPAIR TABLE `$pt` SYNC PARTITIONS")
        val live = spark.table(pt)
        val system = live.select("batch_id").distinct()
          .collect().map(_.getLong(0)).filter(_ < 0L)
        val foldable = (committed ++ system + compactedBatchId).toSeq
        val inFold = col("batch_id").isin(foldable: _*)
        val erased = allDrop.fold(live.where(inFold))(p =>
          live.where(inFold)
            .join(broadcast(p.select(col("id").as("id_a"))),
              Seq("id_a"), "left_anti")
            .join(broadcast(p.select(col("id").as("id_b"))),
              Seq("id_b"), "left_anti"))
        graft.sources.Tables.dropWithLocation(spark, stage)
        // consolidate files without single-threading the rewrite: a
        // pair table can be large, so coalesce to the shuffle width
        // (no exchange), not to 1 like the tiny stats/marker folds.
        // Column order re-selected: the endpoint anti-joins move
        // their keys first, and appends insertInto positionally.
        erased.withColumn("batch_id", lit(compactedBatchId))
          .select(live.columns.map(col).toIndexedSeq: _*)
          .unionByName(live.where(!inFold))
          .coalesce(spark.sessionState.conf.numShufflePartitions)
          .write.partitionBy("batch_id")
          .format("parquet").saveAsTable(stage)
        graft.sources.Tables.dropWithLocation(spark, pt)
        renameWithPartitions(spark, stage, pt)
      }
    }
    // TxLog-committed pair outputs: same both-endpoint erase, through
    // the log's own staged fold (lease-guarded, crash-safe).  When a
    // drop set exists the fold is FORCED: an erase must rewrite even
    // a one-batch or base-only log (the size-gated default would
    // silently keep the purged rows)
    for (d <- pairsTxDirs
         if graft.sources.TxLog.committedDirs(spark, d).nonEmpty)
      graft.sources.TxLog.compactWith(spark, d, (df, _) =>
        allDrop.fold(df)(p => df
          .join(broadcast(p.select(col("id").as("id_a"))),
            Seq("id_a"), "left_anti")
          .join(broadcast(p.select(col("id").as("id_b"))),
            Seq("id_b"), "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*)),
        graceMs = graceMs, force = allDrop.nonEmpty)
    foldBatchesTable(spark, name)
    // the family ledger folds to empty LAST — every erase above
    // (index tables + pair tables + pair logs) has landed
    IndexLifecycle.foldLedgerEmpty(spark, name, committed)
  }

  /** The ids `<name>_batches` marks committed (empty when the table
    * does not exist yet). */
  private def committedBatchIds(spark: SparkSession, name: String): Set[Long] =
    if (spark.catalog.tableExists(s"${name}_batches"))
      spark.table(s"${name}_batches").select("batch_id")
        .collect().map(_.getLong(0)).toSet
    else Set.empty[Long]

  /** Fold the `_batches` marker table to one file, preserving EVERY
    * committed id — the `seen` gate is what makes folded index
    * partitions replay-safe, so the fold must never lose an id. */
  private def foldBatchesTable(spark: SparkSession, name: String): Unit =
    if (spark.catalog.tableExists(s"${name}_batches")) {
      val stage = s"${name}_batches__cstage"
      graft.sources.Tables.dropWithLocation(spark, stage)
      spark.table(s"${name}_batches").distinct().coalesce(1)
        .write.format("parquet").saveAsTable(stage)
      graft.sources.Tables.dropWithLocation(spark, s"${name}_batches")
      spark.sql(s"ALTER TABLE `$stage` RENAME TO `${name}_batches`")
    }

  /** RENAME for a partitioned managed table that is correct on BOTH
    * catalog implementations: the in-memory catalog's renameTable
    * moves the table directory but leaves each partition entry's
    * location pointing at the OLD path (Hive updates them), so a
    * post-rename scan would list vanished directories and read the
    * table as empty.  SYNC PARTITIONS re-derives the partition list
    * from the moved directory — dropping the stale entries and
    * registering the real ones — and is a no-op-shaped relisting on
    * catalogs that already did the right thing. */
  private[ext] def renameWithPartitions(spark: SparkSession, from: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE `$from` RENAME TO `$to`")
    spark.sql(s"MSCK REPAIR TABLE `$to` SYNC PARTITIONS")
  }

  /** Finish a [[compactLshIndex]] swap a crash interrupted between
    * the live-table drop and the stage rename — the only window where
    * an index table is missing (and every read in that window fails
    * loudly rather than answering from a partial index) — and roll a
    * crashed MINOR fold forward or back from its two markers.
    * Idempotent; returns true if any repair ran.  Both fold entry
    * points run it first, so re-running compaction is the recovery. */
  def recoverLshCompaction(spark: SparkSession, name: String): Boolean = {
    val partitioned = Set(s"${name}_shingles", s"${name}_bands",
      IndexLifecycle.purgedTable(name))
    val swaps = for {
      tbl <- Seq(s"${name}_shingles", s"${name}_bands",
        IndexLifecycle.purgedTable(name), s"${name}_batches")
      stage = s"${tbl}__cstage"
      if spark.catalog.tableExists(stage) && !spark.catalog.tableExists(tbl)
    } yield {
      if (partitioned(tbl)) renameWithPartitions(spark, stage, tbl)
      else spark.sql(s"ALTER TABLE `$stage` RENAME TO `$tbl`")
      tbl
    }
    // a crash BETWEEN the rename and its MSCK sync leaves the table
    // present with stale partition metadata (invisible to the
    // missing-table check), so re-sync existing partitioned tables
    // unconditionally — rename+sync becomes idempotent under
    // "re-run compaction"
    for (tbl <- partitioned.toSeq.sorted if spark.catalog.tableExists(tbl))
      spark.sql(s"MSCK REPAIR TABLE `$tbl` SYNC PARTITIONS")
    val folds = partitioned.toSeq.filter(spark.catalog.tableExists)
      .filter(recoverMinorFold(spark, _))
    swaps.nonEmpty || folds.nonEmpty
  }

  /** Minor (leveled) fold: collapse only the MARKED real batches
    * (ids ≥ 0) into one fresh generation partition, leaving the
    * bootstrap, the major base, and earlier generations untouched —
    * O(batches-since-last-fold) I/O instead of the major fold's
    * O(index) rewrite.  This is the LSM shape the index needs at a
    * real cadence: minor folds keep the per-probe file count at
    * buckets × (generations + unfolded batches) for the price of the
    * recent slice, and an occasional [[compactLshIndex]] major fold
    * collapses the accumulated generations back to one base.  Without
    * leveling, every fold rewrites the whole index — write
    * amplification that grows linearly with corpus age.
    *
    * Same replay contract as the major fold: folded ids stay marked
    * in `<name>_batches` (also folded to one file here), so replays
    * no-op at the `seen` gate; unmarked in-flight partitions are
    * never touched, so the half-append guards survive.
    *
    * Crash safety is a two-marker protocol in each table's directory
    * (the staged-swap trick would re-rewrite the whole table, which
    * is the cost this fold exists to avoid):
    *  1. publish `_minor_fold_pending` (gen id + folded ids, atomic
    *     rename);
    *  2. write the generation partition (dynamic overwrite — replays
    *     replace it);
    *  3. publish `_minor_fold_done`;
    *  4. drop the folded partitions (catalog + directory);
    *  5. delete pending, then done.
    * Recovery ([[recoverMinorFold]]): pending without done → the
    * generation may be partial and every source partition is still
    * present, so roll BACK (drop the generation, clear the marker);
    * done present → the generation is complete, so roll FORWARD
    * (finish the drops, clear markers).  The done marker is deleted
    * last: a crash after deleting pending leaves {done only}, which
    * recovery clears without touching data — the states can never
    * confuse roll-back with roll-forward. */
  def compactLshIndexMinor(spark: SparkSession, name: String): Unit =
    minorFold(spark, name, crashAt = None)

  /** Seam-instrumented body of [[compactLshIndexMinor]]: `crashAt`
    * aborts deterministically at a named protocol point so specs can
    * pin every crash window without timing games. */
  private[graft] def minorFold(spark: SparkSession, name: String,
      crashAt: Option[String]): Unit = {
    recoverLshCompaction(spark, name)
    val tbls = Seq(s"${name}_shingles", s"${name}_bands")
    if (!tbls.forall(spark.catalog.tableExists)) return
    val committed = committedBatchIds(spark, name)
    def crash(point: String): Unit = if (crashAt.contains(point))
      throw new IllegalStateException(s"injected crash at $point")
    for (tbl <- tbls) {
      val present = spark.table(tbl).select("batch_id").distinct()
        .collect().map(_.getLong(0))
      val folded = present.filter(id => id >= 0L && committed(id)).sorted
      if (folded.nonEmpty) { // even one batch folds ~tasks×buckets files → buckets
        // min over compactedBatchId too: on an index with no major base
        // the old floor (min(present, bootstrap) - 1) was -2, colliding
        // with the id reserved for the major fold — keep -2 exclusive
        val gen = present.min.min(bootstrapBatchId).min(compactedBatchId) - 1L
        publishFoldMarker(spark, tbl, "_minor_fold_pending", gen, folded)
        crash(s"$tbl:after-pending")
        // localCheckpoint breaks lineage so the insert does not read
        // the table it overwrites; cost is one materialization of the
        // folded slice — exactly the I/O budget of a minor fold.  The
        // bucket-aligning repartition must come AFTER the checkpoint:
        // checkpointing materializes the plan without honoring a
        // trailing user repartition (measured: a 4-way repartition
        // checkpointed into 13 partitions), and a generation written
        // with the scan's partitioning lands ~tasks×buckets files —
        // the exact growth this fold exists to remove
        val spec = bucketSpecOf(spark, tbl)
        val rows = spark.table(tbl)
          .where(col("batch_id").isin(folded: _*))
          .withColumn("batch_id", lit(gen))
          .localCheckpoint()
          .repartition(spec.numBuckets, spec.bucketColumnNames.map(col).toIndexedSeq: _*)
        writeBatchPartitionInto(rows, tbl)
        crash(s"$tbl:after-gen")
        publishFoldMarker(spark, tbl, "_minor_fold_done", gen, folded)
        crash(s"$tbl:after-done")
        dropIndexPartitions(spark, tbl, folded, stopAfter =
          if (crashAt.contains(s"$tbl:mid-drop")) folded.length / 2 else -1)
        crash(s"$tbl:mid-drop")
        deleteFoldMarker(spark, tbl, "_minor_fold_pending")
        crash(s"$tbl:after-pending-delete")
        deleteFoldMarker(spark, tbl, "_minor_fold_done")
      }
    }
    foldBatchesTable(spark, name)
  }

  /** Roll a crashed minor fold of `tbl` forward (done marker present:
    * finish the drops) or back (pending only: drop the possibly-
    * partial generation).  Idempotent; true if a repair ran. */
  private[graft] def recoverMinorFold(spark: SparkSession, tbl: String): Boolean = {
    val pending = readFoldMarker(spark, tbl, "_minor_fold_pending")
    val done = readFoldMarker(spark, tbl, "_minor_fold_done")
    (pending, done) match {
      case (_, Some((gen, folded))) => // roll forward: gen is complete
        dropIndexPartitions(spark, tbl, folded, stopAfter = -1)
        deleteFoldMarker(spark, tbl, "_minor_fold_pending")
        deleteFoldMarker(spark, tbl, "_minor_fold_done")
        true
      case (Some((gen, _)), None) => // roll back: gen may be partial
        dropIndexPartitions(spark, tbl, Seq(gen), stopAfter = -1)
        deleteFoldMarker(spark, tbl, "_minor_fold_pending")
        true
      case _ => false
    }
  }

  private def tableLocation(spark: SparkSession, tbl: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)

  private def bucketSpecOf(spark: SparkSession, tbl: String) =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
      .getOrElse(sys.error(s"$tbl has no bucket spec — not an LSH index table"))

  /** Dynamic-overwrite `rows` (one batch_id partition) into `tbl` —
    * the same idempotent replace [[writeIndexTable]] uses for appends. */
  private def writeBatchPartitionInto(rows: DataFrame, tbl: String): Unit = {
    val spark = rows.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite).insertInto(tbl)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Unregister + physically delete the given batch_id partitions.
    * Directory deletion matters: a lingering directory would be
    * resurrected by the major fold's SYNC PARTITIONS relisting.
    * All ids drop in ONE ALTER TABLE statement — per-partition
    * commands made the catalog round-trips, not the data, the
    * dominant cost of a minor fold (measured 100 drops ≈ half the
    * fold).  `stopAfter` ≥ 0 stops after that many drops (crash
    * injection; per-id commands there, granularity over speed). */
  private def dropIndexPartitions(spark: SparkSession, tbl: String,
      ids: Seq[Long], stopAfter: Int): Unit = {
    val loc = tableLocation(spark, tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = if (stopAfter < 0) ids else ids.take(stopAfter)
    if (keep.nonEmpty) {
      if (stopAfter < 0)
        spark.sql(s"ALTER TABLE `$tbl` DROP IF EXISTS " +
          keep.map(id => s"PARTITION (batch_id=$id)").mkString(", "))
      else keep.foreach(id =>
        spark.sql(s"ALTER TABLE `$tbl` DROP IF EXISTS PARTITION (batch_id=$id)"))
      for (id <- keep) {
        val dir = new org.apache.hadoop.fs.Path(loc, s"batch_id=$id")
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }
  }

  /** Atomically publish a fold marker (`tmp write → no-overwrite
    * rename`, TxLog's primitive) in `tbl`'s directory.  Single
    * maintenance owner assumed — the marker guards crashes, not
    * races.  Underscore-prefixed, so scans never read it as data. */
  private def publishFoldMarker(spark: SparkSession, tbl: String,
      markerName: String, gen: Long, folded: Seq[Long]): Unit = {
    val loc = tableLocation(spark, tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(loc, s".tmp_$markerName")
    val out = fs.create(tmp, /*overwrite=*/ true)
    try out.write(s"""{"gen":$gen,"folded":[${folded.mkString(",")}]}"""
      .getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(loc.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp),
      fc.makeQualified(new org.apache.hadoop.fs.Path(loc, markerName)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readFoldMarker(spark: SparkSession, tbl: String,
      markerName: String): Option[(Long, Seq[Long])] = {
    val loc = tableLocation(spark, tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(loc, markerName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val gen = """"gen":(-?\d+)""".r.findFirstMatchIn(body)
        .map(_.group(1).toLong).getOrElse(sys.error(s"bad fold marker: $body"))
      val folded = """"folded":\[([-\d,]*)\]""".r.findFirstMatchIn(body)
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_.split(',').map(_.toLong).toSeq).getOrElse(Seq.empty)
      Some((gen, folded))
    }
  }

  private def deleteFoldMarker(spark: SparkSession, tbl: String,
      markerName: String): Unit = {
    val loc = tableLocation(spark, tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc, markerName), false)
  }
}
