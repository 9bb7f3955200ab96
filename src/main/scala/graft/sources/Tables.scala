package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY §2.2 row 1).  The reference has no
  * storage at all (any in-memory Foldable); this is the Spark-native
  * capability: schema-pinned scans that push filters/pruning into the
  * format, and sinks whose layout decisions (partitioning, bucketing)
  * are the levers that remove shuffles at 100 TB.
  */
object Tables {

  /** Read one testdata table.  Column pruning + predicate pushdown
    * reach the parquet scan (verify with `.explain`: `ReadSchema`,
    * `PushedFilters`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- Schema-adaptive reads ---------------------------------------------
  // The engine reads a corpus it does not control, and the corpus's
  // physical encodings have drifted before (events.ts shipped as
  // TIMESTAMP(NANOS)-as-long, then TIMESTAMP_MICROS NTZ — the drift
  // once broke 13 queries at a stroke).  Every table read therefore
  // goes through [[adaptiveTable]]: each drift-prone column is
  // normalized from its OBSERVED type to the canonical logical type
  // the query surface was written against — by a LOSSLESS cast when
  // one exists, by a loud failure when the observed shape is
  // ambiguous or narrowing.  A future re-encode either changes zero
  // queries or fails with a message naming the column, never silently
  // skews results.

  import org.apache.spark.sql.types._
  import org.apache.spark.sql.Column

  /** Plausible epoch-NANOS window, 1990-01-01 .. 2200-01-01.  A long
    * that claims to be nanos but falls outside is almost certainly a
    * different unit (plain micros are ~3 orders of magnitude lower,
    * millis ~6) — divide-by-1000 would then be a silent 1000× error,
    * the failure mode this guard exists to make loud. */
  private val NanosLo = 631152000000000000L
  private val NanosHi = 7258118400000000000L

  /** Long claiming nanos → micros, integer-divided (1.7e18 does not
    * fit a double's mantissa), with a PER-ROW magnitude guard: any
    * non-null value outside the plausible nanos window raises an
    * error naming the column and the suspected real unit instead of
    * returning timestamps off by 1000×. */
  private def guardedNanosToMicros(c: Column, ctx: String): Column =
    when(c.isNull, lit(null).cast(LongType))
      .when(c.between(NanosLo, NanosHi), call_function("div", c, lit(1000L)))
      .otherwise(raise_error(concat(
        lit(s"$ctx: long value "), c.cast(StringType),
        lit(" is outside the plausible epoch-nanos range [1990, 2200) — " +
          "the corpus likely re-encoded this column as plain micros or " +
          "millis; update Tables.canonical for the new unit deliberately"))))

  /** Normalize one observed column to its canonical logical type:
    * identity when they match, a lossless widening cast where one
    * exists (integral widenings; float→double; decimal(≤15)→double,
    * exact within the 53-bit mantissa; NTZ↔timestamp under the
    * engine-wide UTC session zone; magnitude-guarded nanos-long →
    * timestamp; element-wise for arrays), and a LOUD failure for
    * anything else — never a silent narrowing or reinterpretation. */
  private[graft] def normalize(c: Column, from: DataType, to: DataType,
      ctx: String): Column = (from, to) match {
    case (f, t) if f == t => c
    case (ByteType | ShortType | IntegerType, LongType) => c.cast(LongType)
    case (ByteType | ShortType, IntegerType) => c.cast(IntegerType)
    case (FloatType, DoubleType) => c.cast(DoubleType)
    case (d: DecimalType, DoubleType) if d.precision <= 15 => c.cast(DoubleType)
    case (TimestampNTZType, TimestampType) => c.cast(TimestampType)
    case (TimestampType, TimestampNTZType) => c.cast(TimestampNTZType)
    case (LongType, TimestampType) =>
      timestamp_micros(guardedNanosToMicros(c, ctx))
    case (LongType, TimestampNTZType) =>
      timestamp_micros(guardedNanosToMicros(c, ctx)).cast(TimestampNTZType)
    case (ArrayType(f, n), ArrayType(t, _)) if elementWidens(f, t) =>
      c.cast(ArrayType(t, n))
    case (f, t) => throw new IllegalArgumentException(
      s"$ctx has physical type ${f.simpleString} which does not losslessly " +
        s"normalize to canonical ${t.simpleString} — the corpus re-encoded " +
        "into an ambiguous or narrowing shape; update Tables.canonical " +
        "deliberately instead of silently coercing")
  }

  private def elementWidens(f: DataType, t: DataType): Boolean = (f, t) match {
    case (a, b) if a == b => true
    case (ByteType | ShortType | IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (d: DecimalType, DoubleType) => d.precision <= 15
    case _ => false
  }

  /** Normalize `colName` of `df` to `wanted` (see [[normalize]]). */
  def adaptive(df: DataFrame, colName: String, wanted: DataType,
      table: String = "table"): Column =
    normalize(col(colName), df.schema(colName).dataType, wanted,
      s"$table.$colName")

  /** The canonical logical schema each table's query surface was
    * written against — the contract [[adaptiveTable]] normalizes the
    * observed physical schema into.  `embedding` is canonically
    * array<double>: every consumer computes in double (ColFns.vecD),
    * so float corpora widen losslessly and a future double corpus is
    * a no-op.  `ts`-family columns are listed with the type their
    * queries consume today; the nanos-long legacy shape normalizes in
    * via the guarded integer division. */
  private val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(DoubleType), "label" -> IntegerType))

  /** Read one testdata table normalized to its canonical logical
    * schema — the drift-insurance entry point gate queries use.  A
    * canonical column missing from the file is a loud failure; extra
    * observed columns pass through untouched.  (`events.ts` is
    * canonicalized separately by [[events]]/[[eventTs]] because some
    * consumers want the raw encoding.) */
  def adaptiveTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = table(spark, dir, name)
    canonical.get(name).fold(raw) { cols =>
      cols.foldLeft(raw) { case (df, (cn, dt)) =>
        require(df.columns.contains(cn),
          s"$name is missing canonical column $cn — observed schema: " +
            df.schema.simpleString)
        if (df.schema(cn).dataType == dt) df
        else df.withColumn(cn, normalize(col(cn), df.schema(cn).dataType, dt,
          s"$name.$cn"))
      }
    }
  }

  /** Schema-adaptive event-time column — [[normalize]]'s dispatch for
    * the encodings `events.ts` has actually shipped in:
    *   - `LongType`       — legacy parquet TIMESTAMP(NANOS), surfaced
    *     as raw nanos-as-long; integer-divided to micros behind the
    *     per-row magnitude guard (a plain-micros or millis re-encode
    *     also surfaces as long — the guard makes that loud instead of
    *     a silent 1000× skew).
    *   - `TIMESTAMP_NTZ`  — parquet TIMESTAMP_MICROS without UTC
    *     adjustment (the current testdata).  Cast to TimestampType;
    *     with the engine-wide UTC session timezone the stored micros
    *     are preserved bit-for-bit.
    *   - `TimestampType`  — already what downstream wants.
    * Anything else is a loud failure, not a silent coercion. */
  def eventTs(df: DataFrame, colName: String = "ts"): Column =
    df.schema(colName).dataType match {
      case dt @ (LongType | TimestampNTZType | TimestampType) =>
        normalize(col(colName), dt, TimestampType, s"events.$colName")
      case other => throw new IllegalArgumentException(
        s"events.$colName has unsupported type $other; " +
          "expected long (legacy nanos), timestamp_ntz, or timestamp")
    }

  /** `events` with `ts` normalized to a microsecond TimestampType via
    * the schema-adaptive [[eventTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.withColumn("ts", eventTs(raw))
  }

  /** Schema-pinned CSV reader — explicit schema, so no inference pass
    * over the data (inference = a full extra scan at 100 TB). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path)

  /** Schema-pinned JSON-lines reader (same no-inference rationale). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink — the interchange format LLM corpora ship in
    * (one JSON object per line; splittable when uncompressed, so use
    * per-file compression like zstd/gzip only with many files).
    * `partitionCols` gives directory pruning exactly like the
    * parquet sink; read back with the schema-pinned [[json]] reader
    * (q81 hash-checks the byte-level text round trip). */
  def writeJsonl(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil, compression: Option[String] = None,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    compression.foreach(c => w.option("compression", c))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .json(path)
  }

  /** Hive-style partitioned parquet sink: one directory per distinct
    * partition value → partition pruning on read (a filter on the
    * partition column skips whole directories). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: joins/aggregations on the
    * bucket key against an equally-bucketed table need NO shuffle
    * (both sides are already hash-distributed the same way) — the
    * co-located-join lever for repeated large-table joins. */
  def writeBucketed(df: DataFrame, tableName: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Overwrite) dropWithLocation(df.sparkSession, tableName)
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /** Land a [[graft.ext.Sampling.shuffleShard]]-shaped frame as
    * training shards: one directory per shard, rows inside each file
    * in ascending `pos` — the physical layout a training reader
    * streams in the reproducible hash-random order.
    *
    * `repartition(shard)` aligns write tasks with shard directories
    * (without it every task writes a sliver of every shard —
    * nShards × tasks tiny files), and the upstream shuffleShard
    * hash-partitioning is reused by AQE where shard counts align, so
    * this adds at most one exchange.  `sortWithinPartitions(shard,
    * pos)` makes each parquet file internally pos-ordered; readers
    * get order back with a per-shard `ORDER BY pos` that parquet
    * row-group metadata makes near-free. */
  def writeShards(df: DataFrame, path: String,
      shardCol: String = "shard", posCol: String = "pos",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(posCol))
      .write.mode(mode).partitionBy(shardCol).parquet(path)

  /** PURGE-AWARE repair of a landed [[writeShards]] directory: rewrite
    * ONLY the shards that can hold purged documents, leaving every
    * other shard file byte-identical on disk.  Training shards are the
    * artifact a training run actually reads — and they hold full
    * document text, so a right-to-erasure takedown is incomplete until
    * they are repaired; without this, "a takedown landed" would mean
    * re-sharding the whole corpus.
    *
    * The affected set is computable from the purged ids ALONE (no
    * corpus scan): [[graft.ext.Sampling.shuffleShard]] assigns
    * `shard = h60(id) % nShards`, so at most min(|purged|, nShards)
    * shards are touched.  Each affected shard is read back
    * (partition-pruned scan), anti-joined against the purged ids, and
    * its dense `pos` is recomputed by the SAME (hash, id) ordering —
    * so the repaired directory is row-identical to a fresh
    * shuffleShard+writeShards of corpus-minus-purged (q128 gates
    * exactly that, plus the untouched-files witness).  In-shard `pos`
    * shifts are confined to rows after a purged row's position, and
    * only inside affected shards.
    *
    * Scale shape: one partition-pruned read + one dynamic-overwrite
    * write of O(affected shards) data — at 100 TB / 100k shards a
    * churn-sized takedown rewrites ~|purged| shards of ~1 GB each,
    * not the corpus.  The purged set broadcasts (takedown-churn-sized,
    * the same contract as every purge-ledger join); the affected-id
    * collect is bounded by min(|purged|, nShards).  A shard whose
    * every row is purged is DELETED (dynamic overwrite only replaces
    * partitions present in the written data, so the empty shard's
    * stale directory is removed explicitly — to a reader, absent and
    * empty are the same zero rows).
    *
    * Run it AFTER the corpus purge, against the ids the purge ledger
    * recorded (SCALE.md's takedown runbook orders the steps).
    * Idempotent: a re-run rewrites the same shards to the same rows.
    * Returns the affected shard ids (sorted).
    *
    * @param purged one column (`idCol`) of purged doc ids — the same
    *   frame handed to the purge; must be the FULL takedown set for
    *   this repair (a partial set repairs partially)
    * @param nShards the shard count the directory was written with —
    *   the repair recomputes `h60(id) % nShards`, so a wrong count
    *   repairs the wrong shards (require()d against the directory's
    *   observed shard ids as far as observable: affected ids must be
    *   a subset of [0, nShards)) */
  def repairShards(spark: SparkSession, path: String, purged: DataFrame,
      idCol: String, nShards: Int, shardCol: String = "shard",
      posCol: String = "pos"): Seq[Long] = {
    import graft.functions.ColFns.h60
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val p = purged.select(col(idCol)).distinct().localCheckpoint()
    // affected shards from the ledger alone — bounded by
    // min(|purged|, nShards), a driver-sized list by construction
    val affected = p
      .select((h60(col(idCol).cast("string")) % nShards).as("__s"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (affected.isEmpty) return Nil
    // partition-pruned: only the affected shard directories are read
    val slice = spark.read.parquet(path)
      .where(col(shardCol).isin(affected: _*))
    val live = slice.join(broadcast(p), Seq(idCol), "left_anti")
    val hvCol = s"__${posCol}_hv"
    val repaired = live
      .withColumn(hvCol, h60(col(idCol).cast("string")))
      .withColumn(posCol, row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(shardCol))
          .orderBy(col(hvCol).asc, col(idCol).asc)))
      .drop(hvCol)
      .select(slice.columns.map(col).toIndexedSeq: _*)
    // the surviving-shard set, collected BEFORE the overwrite (the
    // lazy plan reads the pre-repair files, which the write replaces)
    // and from the LIVE frame, not a path read-back (a fully-purged
    // shard's stale directory would report its own rows as live):
    // one partition-pruned slice + the broadcast anti-join, cheap at
    // repair cadence
    val survivors = live
      .select(col(shardCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    // dynamic partition overwrite: ONLY the shard partitions present
    // in `repaired` are replaced; every other shard's files are never
    // opened, let alone rewritten (the byte-identical witness).  The
    // session conf is mutated set/restore like every dynamic write
    // here — per-write options are not honored on all write paths.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try repaired.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(posCol))
      .write.mode(SaveMode.Overwrite).partitionBy(shardCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    // a fully-purged shard writes no partition, so its stale directory
    // survives the dynamic overwrite — delete it explicitly
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (s <- affected if !survivors(s)) {
      val d = new org.apache.hadoop.fs.Path(path, s"$shardCol=$s")
      if (fs.exists(d)) fs.delete(d, true)
    }
    affected
  }

  /** Compact a parquet directory's many small files into ~`targetMB`
    * files — the small-file killer for training readers (a 100 TB
    * corpus accreted in per-batch appends ends up as millions of
    * KB-scale files; open/seek overhead then dominates the scan).
    * One distributed read + one write, content-identical (q83
    * hash-checks); file count = ceil(input bytes / targetMB), so the
    * output lands at roughly the row-group-friendly size HDFS-likes
    * want.  Round-robin repartition spreads rows evenly regardless
    * of input skew.  Partition layout is NOT preserved — compact
    * unpartitioned dirs or one partition directory at a time.
    * Returns the output file count. */
  def compactFiles(spark: SparkSession, inPath: String, outPath: String,
      targetMB: Int = 1024): Int = {
    require(targetMB > 0, s"targetMB must be positive, got $targetMB")
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
    spark.read.parquet(inPath).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** Partition-aware [[compactFiles]]: mirror a Hive-partitioned
    * directory tree, compacting each leaf partition directory
    * independently into ~`targetMB` files at the SAME relative path.
    * Layout (directory names, partition values, nesting) is preserved
    * VERBATIM because relative paths are copied as strings — never
    * re-derived from parsed values, so there is no
    * escaping/type/date-format round trip to get wrong.
    *
    * Each leaf is one distributed read+write job; leaves are submitted
    * concurrently from a `parallelism`-sized thread pool, so
    * throughput scales with the cluster, not the driver loop.  At
    * 10^5+ partitions raise `parallelism` or shard the invocation by
    * partition prefix (compaction of disjoint subtrees composes).
    * Returns (leaf dir count, total output files planned).
    *
    * Dirs holding NO data files — empty partition dirs, and dirs
    * containing only job metadata (`_SUCCESS`, `_committed*`,
    * dotfiles) — are SKIPPED, not mirrored: to a Hive-layout reader
    * an absent partition directory and an empty one are the same
    * zero rows, and real ingest trees shed both shapes constantly
    * (aborted task dirs, metadata-only commit leftovers), so
    * compaction drops them rather than fabricating empty parquet
    * output.  Such dirs do not count toward the returned leaf count.
    * An input tree with no data anywhere returns (0, 0) and writes
    * nothing. */
  def compactPartitioned(spark: SparkSession, inPath: String, outPath: String,
      targetMB: Int = 1024, parallelism: Int = 8): (Int, Int) = {
    require(targetMB > 0, s"targetMB must be positive, got $targetMB")
    require(parallelism > 0, s"parallelism must be positive, got $parallelism")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(inPath).getFileSystem(conf)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(inPath))
    def isData(st: org.apache.hadoop.fs.FileStatus): Boolean = st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // Hive layout keeps data only at the leaves; a dir holding data
    // files IS a leaf (its subdirs, if any, are metadata like _spark_
    // staging remnants, not partitions)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val st = fs.listStatus(p)
      if (st.exists(isData)) Seq(p)
      else st.filter(_.isDirectory).toSeq.map(_.getPath).flatMap(leaves)
    }
    val leafDirs = if (fs.exists(root)) leaves(root) else Seq.empty
    if (leafDirs.isEmpty) return (0, 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, leafDirs.size))
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val jobs = leafDirs.map { leaf =>
        val rel = leaf.toString.stripPrefix(root.toString).stripPrefix("/")
        val out = if (rel.isEmpty) outPath else s"$outPath/$rel"
        scala.concurrent.Future(compactFiles(spark, leaf.toString, out, targetMB))(ec)
      }
      val counts = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(jobs)(
          scala.collection.BuildFrom.buildFromIterableOps, ec),
        scala.concurrent.duration.Duration.Inf)
      (leafDirs.size, counts.sum)
    } finally pool.shutdown()
  }

  /** Honest drop even across JVM restarts: a previous session may
    * have left the managed table's LOCATION behind while the
    * (in-memory) catalog entry died with it — the next `saveAsTable`
    * then refuses with LOCATION_ALREADY_EXISTS.  Drops both the
    * catalog entry and the default location. */
  def dropWithLocation(spark: SparkSession, tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Recursive local delete; a missing path is a no-op.  A directory
    * can gain files while it is walked (after `q.stop()` the RocksDB
    * state-store maintenance thread may still be flushing a
    * checkpoint, so the parent rmdir throws DirectoryNotEmptyException),
    * so the sweep is retried briefly; the fifth failure propagates. */
  private[graft] def deleteRec(p: java.nio.file.Path): Unit = {
    def sweep(): Unit = if (java.nio.file.Files.exists(p)) {
      val walked = java.nio.file.Files.walk(p)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walked.close()
    }
    var left = 5
    while (left > 0)
      try { sweep(); left = 0 }
      catch {
        case e: java.io.IOException =>
          left -= 1
          if (left == 0) throw e
          Thread.sleep(300)
      }
  }
}
