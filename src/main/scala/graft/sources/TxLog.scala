package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal manifest commit log giving EXACTLY-ONCE batch appends on
  * plain parquet — the role a transactional table format (Delta,
  * Iceberg) plays, rebuilt from the two primitives every HDFS-like
  * filesystem has: write-to-a-fresh-directory and an atomic
  * no-overwrite rename of a single marker file.
  *
  * Layout under `dir`:
  * {{{
  *   _staged/<marker>-<uuid>/    parquet files for one attempt
  *   _staged/<marker>-<uuid>/_schema  the attempt's schema (JSON)
  *   _commits/<batchId>          writer marker; CONTENT = staged dir name
  *   _commits/c<maxFoldedId>     compaction marker (same content shape)
  *   _commits/.tmp/<uuid>        marker bodies awaiting the publish
  * }}}
  *
  * Protocol per batch:
  *  1. write the batch's rows to a fresh `_staged/<batchId>-<uuid>/`
  *     (a crashed attempt leaves an orphan dir no marker references),
  *     then the `_schema` sidecar: staged dirs are write-once, so the
  *     schema recorded here is the one every later read sees, and
  *     readers take it instead of running a parquet schema-inference
  *     job per read (a dir without one — written before the sidecar
  *     existed — falls back to inference);
  *  2. write the marker BODY (the staged dir name) to
  *     `_commits/.tmp/<uuid>` and close it — content is durable before
  *     anything references it;
  *  3. publish it at `_commits/<batchId>` with ONE atomic no-clobber
  *     operation: a hard link on the local filesystem (`link(2)` fails
  *     if the name exists), `FileContext.rename(…, Rename.NONE)`
  *     elsewhere (atomic on HDFS-likes; the pattern Spark's own
  *     streaming checkpoint manager uses for its commit log).  Hadoop's
  *     local `Rename.NONE` is an exists-check followed by an
  *     overwriting rename, so it is not used there.
  *
  * A crash at any point leaves either no marker (replay re-stages and
  * commits) or a complete marker (replay is a no-op) — never a
  * half-written marker, because the publish is the only operation that
  * makes a marker visible.  Two concurrent attempts race on the
  * no-clobber publish; exactly one wins, the loser's staged dir is an
  * orphan for [[vacuum]].  No reader ever needs a defensive DISTINCT.
  *
  * Compaction markers live in their own name shape (`c<n>`, n = the
  * largest writer id folded in) so they can NEVER collide with a
  * writer's monotonically-increasing batch ids, and [[isCommitted]]
  * treats every id ≤ n as committed — a stream replaying a batch that
  * compaction already folded still skips it.  Readers resolve live
  * markers BY NAME (numeric ids above the newest compaction id, plus
  * that compaction marker), so a crash between publishing the folded
  * marker and deleting the stale ones never double-reads — recovery
  * is just [[vacuum]].
  *
  * Scale notes: readers pay one `_commits` listing plus one small
  * read per live marker; [[compact]] (optionally generational via
  * `keepRecent`) bounds the live-marker count, and above
  * [[bulkReadThreshold]] live markers the bodies are read by a
  * bounded driver-side thread pool instead of a sequential loop (a
  * distributed pass was measured 8× slower — see
  * [[bulkReadThreshold]]).  The data files themselves are read with
  * ordinary partitioned parquet scans, so filter pushdown and column
  * pruning are untouched.
  *
  * Writer role: the log is SINGLE-WRITER for maintenance.  [[compact]]
  * and [[vacuum]] enforce it with a create-no-overwrite lease file
  * (`_writer.lock` under `dir`) held for the call's duration — a
  * second concurrent maintainer fails loudly with the holder's
  * identity instead of corrupting quietly — and [[commitBatch]]
  * refuses (at entry and again just before its marker publish) while
  * maintenance holds the lease, because [[vacuum]] would reclaim an
  * in-flight commit's staged dir as an orphan.  The once-residual
  * window — maintenance acquiring, vacuuming, and releasing entirely
  * DURING a commit's (minutes-long) stage write, so both lease checks
  * pass but the marker would name a deleted dir — is closed by three
  * complementary guards: [[vacuum]] never reclaims staged dirs (or
  * tmp marker bodies) younger than its grace period (GC-safety:
  * size `graceMs` above the longest plausible stage write, default
  * [[defaultVacuumGraceMs]]); [[commitBatch]] verifies its staged dir
  * still exists after the second lease check and RE-STAGES (bounded
  * attempts) if a vacuum reclaimed it; and after the marker publish
  * it verifies the staged dir one last time and FAILS LOUDLY if the
  * dir is gone.  A published marker is never deleted — the
  * no-overwrite rename is the commit point the whole protocol hangs
  * on, and retracting one would let a peer that probed
  * [[isCommitted]] in the window skip the batch forever.  With a
  * grace period sized above the stage-to-publish span the loud
  * failure is unreachable; it can fire only when an operator runs a
  * zero/short-grace vacuum concurrently with a live writer, which
  * the grace-period doc explicitly reserves for writer-down
  * recovery.  A crashed holder leaves the lease behind: recover with
  * [[breakLease]] (runbook below).
  *
  * Operational lifecycle (who takes the writer role, when to compact
  * and vacuum, what readers see mid-crash): SCALE.md §"Ingest
  * recovery runbook".
  */
object TxLog {

  /** Live-marker count above which [[committedDirs]] reads marker
    * bodies with a bounded driver-side THREAD POOL instead of a
    * sequential loop.  (A distributed `spark.read.textFile` pass was
    * tried first and measured 8× SLOWER than even the serial loop at
    * 10^4 markers — Spark's per-tiny-file listing/split overhead
    * dwarfs the ~0.3 ms/marker open cost; TxLogBench at
    * `4740777:src/main/scala/graft/tools/TxLogBench.scala` holds the
    * curve.  Concurrency, not distribution, is the right tool for
    * 10^4-10^5 metadata-sized reads.) */
  val bulkReadThreshold: Int = 1024

  /** Threads for the parallel marker-body read. */
  private val bulkReadParallelism: Int = 32

  /** Default [[vacuum]] grace period: staged dirs and `_commits/.tmp`
    * marker bodies YOUNGER than this are never reclaimed, so an
    * in-flight commit's stage write (or its about-to-rename marker
    * body) cannot be swept from under it by a maintenance call that
    * slips entirely between the commit's two lease checks.  Size it
    * above the longest plausible stage write for the corpus; 15
    * minutes covers a multi-GB parquet stage with a wide margin.
    * Operators that KNOW no writer is active (crash recovery with the
    * writer down) may pass `graceMs = 0` to reclaim everything. */
  val defaultVacuumGraceMs: Long = 15 * 60 * 1000L

  /** Bounded re-stage attempts when a vacuum reclaims the staged dir
    * mid-commit (only reachable when vacuum runs with a grace period
    * shorter than the stage write). */
  private val maxCommitAttempts: Int = 3

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def commitsPath(root: Path) = new Path(root, "_commits")

  /** Read a small metadata file (marker / lease body) as UTF-8.
    *
    * On a ChecksumFileSystem (`file://`), a marker published by the
    * older rename-based protocol can carry a TORN `.crc` SIDECAR: the
    * local checksum layer renamed the sidecar before the data rename,
    * so a race loser's crc landed (plain overwrite) and then its data
    * rename failed on the existing marker — leaving the winner's body
    * paired with the loser's crc.  (Local publishes are hard links of
    * a crc-less body now, see [[publishNew]].)  The body itself is
    * intact and authoritative, so a ChecksumException here retries
    * against the raw filesystem and best-effort deletes the torn
    * sidecar (absence of a crc just means "unverified" locally; the
    * marker is immutable after publish).  On real stores (HDFS/S3A)
    * there is no client-side sidecar — a ChecksumException there is
    * genuine corruption and propagates. */
  private def readSmall(f: FileSystem, p: Path): String = {
    def readVia(fsys: FileSystem): String = {
      val in = fsys.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    try readVia(f) catch {
      case e: org.apache.hadoop.fs.ChecksumException => f match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          val body = readVia(c.getRawFileSystem)
          try c.getRawFileSystem.delete(c.getChecksumFile(p), false)
          catch { case _: java.io.IOException => () }
          body
        case _ => throw e
      }
    }
  }

  /** The maintenance lease file.  Root-level (NOT inside `_commits`)
    * so [[vacuum]]'s stale-marker sweep can never reclaim it. */
  private def leasePath(root: Path) = new Path(root, "_writer.lock")

  /** Acquire the maintenance lease for `op`, or throw
    * [[IllegalStateException]] naming the current holder.  Same
    * atomic no-clobber publish as the commit markers
    * ([[publishNew]]).  Returns the unique token [[releaseLease]]
    * needs — only the acquirer's own lease is ever deleted, so a
    * [[breakLease]] + re-acquire can't be clobbered by the crashed
    * holder resuming. */
  private[graft] def acquireLease(spark: SparkSession, dir: String, op: String): String = {
    val (f, root) = fs(spark, dir)
    val token = s"$op pid=${ProcessHandle.current().pid()} " +
      s"thread=${Thread.currentThread().getId} nonce=${java.util.UUID.randomUUID()}"
    if (publishNew(spark, f, root, leasePath(root), token)) token
    else throw new IllegalStateException(
      s"TxLog at $dir: cannot start '$op' — the writer lease is held by " +
        s"[${leaseHolderDescribed(f, root)}]. The log is " +
        "single-writer for maintenance; if the holder crashed, recover " +
        "with TxLog.breakLease.")
  }

  /** Create `dest` holding `body` only if no file of that name exists —
    * atomically, so of two racing callers exactly one gets true.  The
    * body is written to `_commits/.tmp/<uuid>` first and made visible
    * by one operation.  On the local filesystem that operation is a
    * hard link, which fails if the name exists; Hadoop's local
    * `Rename.NONE` checks for the name and then renames over it, so
    * two callers can both pass the check.  Elsewhere it is
    * `FileContext.rename(…, Rename.NONE)`, atomic on HDFS-likes.
    * Returns false only when `dest` already exists; any other I/O
    * failure propagates. */
  private def publishNew(spark: SparkSession, f: FileSystem, root: Path,
      dest: Path, body: String): Boolean = {
    val tmp = new Path(commitsPath(root), s".tmp/${java.util.UUID.randomUUID()}")
    val bytes = body.getBytes("UTF-8")
    if (f.getUri.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(f.makeQualified(p).toUri)
      val (t, d) = (local(tmp), local(dest))
      // written through java.nio, not the checksummed Hadoop client:
      // the linked name must not depend on a `.crc` sidecar that the
      // link would not carry
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.write(t, bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
      try { java.nio.file.Files.createLink(d, t); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(t)
    } else {
      f.mkdirs(tmp.getParent)
      val out = f.create(tmp, /*overwrite=*/ false)
      try out.write(bytes) finally out.close()
      val fc = FileContext.getFileContext(root.toUri,
        spark.sparkContext.hadoopConfiguration)
      try {
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(dest), Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false) // lost the race; dest is the winner's
          false
      }
    }
  }

  /** Release a lease acquired with `token`.  Deletes the lease file
    * only if it still carries OUR token — a broken-and-reacquired
    * lease belongs to someone else and is left alone. */
  private[graft] def releaseLease(spark: SparkSession, dir: String, token: String): Unit = {
    val (f, root) = fs(spark, dir)
    if (leaseHolder(f, root).contains(token)) f.delete(leasePath(root), false)
  }

  private def leaseHolder(f: FileSystem, root: Path): Option[String] =
    // no exists() pre-check: the holder can release between a check
    // and the open (seen in the lease-race loser's describe path,
    // where the leaked FileNotFoundException replaced the contract's
    // IllegalStateException) — open and treat absence as "no holder"
    try Some(readSmall(f, leasePath(root)))
    catch { case _: java.io.FileNotFoundException => None }

  /** Holder identity plus how long the lease file has existed — the
    * age lets an operator distinguish a live maintainer (seconds old)
    * from a crashed one (hours old) before reaching for
    * [[breakLease]].  The age compares OUR clock to the filesystem's
    * modification time, so it is approximate under client/namenode
    * skew — clamped at 0 and prefixed "~" so nobody reads it as
    * exact. */
  private def leaseHolderDescribed(f: FileSystem, root: Path): String = {
    val holder = leaseHolder(f, root).getOrElse("<unreadable>")
    val age = try {
      val ms = math.max(0L, System.currentTimeMillis() -
        f.getFileStatus(leasePath(root)).getModificationTime)
      s"held for ~${ms / 1000} s (approx; client clock vs fs mtime)"
    } catch { case _: java.io.IOException => "age unknown" }
    s"$holder; $age"
  }

  /** True while a maintenance op ([[compact]]/[[vacuum]]) holds the
    * writer lease. */
  def maintenanceInProgress(spark: SparkSession, dir: String): Boolean = {
    val (f, root) = fs(spark, dir)
    f.exists(leasePath(root))
  }

  /** Operator recovery tool: delete a lease left behind by a CRASHED
    * holder so maintenance can resume.  Returns true if a lease was
    * removed.  Breaking a LIVE holder's lease re-opens the concurrent
    * maintenance hazard the lease exists to prevent — verify the
    * holder (pid in the lease body) is dead first. */
  def breakLease(spark: SparkSession, dir: String): Boolean = {
    val (f, root) = fs(spark, dir)
    f.delete(leasePath(root), false)
  }

  private def requireNoMaintenance(spark: SparkSession, dir: String, what: String): Unit =
    if (maintenanceInProgress(spark, dir)) {
      val (f, root) = fs(spark, dir)
      throw new IllegalStateException(
        s"TxLog at $dir: $what refused — maintenance holds the writer lease " +
          s"[${leaseHolderDescribed(f, root)}]; a concurrent " +
          "vacuum would reclaim this commit's staged dir as an orphan. " +
          "Re-run after maintenance finishes.")
    }

  /** Parse a marker file name: Right(batchId) for writer markers,
    * Left((maxFoldedId, generation)) for compaction markers, None for
    * anything else (tmp dir, stray files).  The generation suffix
    * (`c7g2`) exists for REFOLDS of an already-compacted base — an
    * erasing fold over a log with no new batches keeps the same
    * ceiling, and marker publishes are create-only, so the refold
    * needs a fresh name; a plain `c7` is generation 0. */
  private def parseMarker(name: String): Option[Either[(Long, Long), Long]] =
    if (name.forall(_.isDigit) && name.nonEmpty) Some(Right(name.toLong))
    else if (name.length > 1 && name.head == 'c') {
      val body = name.tail
      val (c, g) = body.indexOf('g') match {
        case -1 => (body, "0")
        case i  => (body.substring(0, i), body.substring(i + 1))
      }
      if (c.nonEmpty && c.forall(_.isDigit) && g.nonEmpty && g.forall(_.isDigit))
        Some(Left((c.toLong, g.toLong)))
      else None
    } else None

  /** Marker file name for a compaction (ceiling, generation). */
  private def cName(cg: (Long, Long)): String =
    if (cg._2 == 0L) s"c${cg._1}" else s"c${cg._1}g${cg._2}"

  /** (live writer ids, newest compaction (ceiling, generation) if
    * any).  Live = writer markers above the newest compaction's
    * ceiling; everything at or below it (and older compaction
    * markers, including older generations at the same ceiling) is
    * stale — already folded, awaiting [[vacuum]].  Zero-length
    * markers are half-published debris from pre-rename-protocol
    * writers: uncommitted. */
  private def liveMarkers(f: FileSystem, root: Path): (Seq[Long], Option[(Long, Long)]) = {
    val commits = commitsPath(root)
    if (!f.exists(commits)) return (Seq.empty, None)
    val named = f.listStatus(commits).toSeq
      .filter(st => st.isFile && st.getLen > 0)
      .flatMap(st => parseMarker(st.getPath.getName))
    val compact = named.collect { case Left(cg) => cg }.sorted.lastOption
    val floor = compact.map(_._1).getOrElse(-1L)
    (named.collect { case Right(id) if id > floor => id }.sorted, compact)
  }

  /** True if `batchId`'s rows are in the log — via its own marker or
    * a compaction marker that folded it.  The own-marker probe runs
    * FIRST: it is one `getFileStatus`, so the common writer-replay
    * check ("did I already commit this?") never pays the `_commits`
    * listing that the compaction-floor check needs. */
  def isCommitted(spark: SparkSession, dir: String, batchId: Long): Boolean = {
    val (f, root) = fs(spark, dir)
    val st = try Some(f.getFileStatus(new Path(commitsPath(root), batchId.toString)))
             catch { case _: java.io.FileNotFoundException => None }
    st.exists(s => s.isFile && s.getLen > 0) ||
      lastCompactedId(spark, dir).exists(batchId <= _)
  }

  /** The newest compaction marker's fold ceiling: every writer batch
    * id ≤ this is committed (its rows live in the folded batch). */
  def lastCompactedId(spark: SparkSession, dir: String): Option[Long] = {
    val (f, root) = fs(spark, dir)
    liveMarkers(f, root)._2.map(_._1)
  }

  /** Stage `df` and atomically publish it as `batchId`.  Returns true
    * if this call committed, false if the batch was already committed
    * or another attempt won the publish race (the staged attempt is
    * then an orphan for [[vacuum]]).  Any other I/O failure — disk
    * full, permissions, fs hiccup — PROPAGATES: only a verified
    * already-committed state may report false.
    *
    * Batch ids must be ≥ 0: marker names are all-digit, so a negative
    * id would publish a marker [[parseMarker]] never recognizes —
    * [[isCommitted]]'s direct point probe would say committed while
    * [[readCommitted]]/[[committedDirs]] silently dropped the rows.
    * (Spark's foreachBatch ids satisfy this; conventions like
    * `Dedup.bootstrapBatchId = -1` are INDEX partition values, not
    * TxLog batch ids.)  Throws [[IllegalStateException]] while
    * maintenance holds the writer lease (see the class doc). */
  def commitBatch(df: DataFrame, dir: String, batchId: Long): Boolean =
    commitBatchHooked(df, dir, batchId, () => ())

  /** [[commitBatch]] with a test seam fired after each stage write
    * completes and before the pre-publish lease re-check — the spec
    * uses it to run a full vacuum cycle "during" the stage and prove
    * the re-stage path (a marker can never name a deleted dir). */
  private[graft] def commitBatchHooked(df: DataFrame, dir: String, batchId: Long,
      afterStage: () => Unit): Boolean = {
    require(batchId >= 0,
      s"TxLog batch ids must be >= 0, got $batchId: a negative id's marker " +
        "would read as committed by the point probe but be invisible to readers")
    val spark = df.sparkSession
    val (f, root) = fs(spark, dir)
    requireNoMaintenance(spark, dir, s"commitBatch($batchId)")
    var attempt = 0
    while (attempt < maxCommitAttempts) {
      attempt += 1
      if (isCommitted(spark, dir, batchId)) return false
      val staged = s"$batchId-${java.util.UUID.randomUUID()}"
      val stagedPath = new Path(root, s"_staged/$staged")
      stage(df, stagedPath)
      afterStage()
      // re-check after the (slow) stage: maintenance that started
      // since the entry check must not be racing the marker publish
      requireNoMaintenance(spark, dir, s"commitBatch($batchId) marker publish")
      // a vacuum may have acquired, reclaimed this unmarked staged
      // dir, and released entirely DURING the stage (both lease
      // checks pass) — only possible when its grace period was
      // shorter than the stage write; detect and re-stage rather
      // than publish a marker naming deleted data
      if (f.exists(stagedPath)) {
        if (!publishMarker(spark, f, root, batchId.toString, staged)) return false
        // final guard: a vacuum that listed _staged just before the
        // marker rename could sweep the dir in these microseconds.
        // The published marker is NEVER retracted (it is the commit
        // point peers may already have observed via isCommitted);
        // instead fail loudly so the operator repairs the log.  The
        // vacuum grace period makes this unreachable unless a
        // zero/short-grace vacuum ran concurrently with this writer,
        // which the grace-period contract forbids.
        if (f.exists(stagedPath)) return true
        throw new IllegalStateException(
          s"TxLog at $dir: commitBatch($batchId) published marker $batchId but " +
            s"the staged dir _staged/$staged is gone — a vacuum with a grace " +
            "period shorter than this commit's stage-to-publish span swept it. " +
            "The marker stands, and peers may ALREADY have treated the batch " +
            "as committed via isCommitted — deleting the marker would make " +
            "those peers skip the batch forever. Repair by re-committing " +
            "UNDER THE SAME ID: write the batch's rows to a fresh _staged " +
            s"dir and overwrite _commits/$batchId IN PLACE to name it, so " +
            "the marker never disappears from any reader's view; then size " +
            "vacuum's graceMs above the longest stage write. Deleting the " +
            "marker and re-ingesting is safe only after reconciling every " +
            "downstream consumer that may have observed the commit.")
      }
    }
    throw new IllegalStateException(
      s"TxLog at $dir: commitBatch($batchId) re-staged $maxCommitAttempts times " +
        "and a vacuum reclaimed the staged dir each time — a maintenance loop " +
        "is running with a grace period shorter than this stage write; raise " +
        "vacuum's graceMs above the stage duration and retry.")
  }

  /** Publish marker `markerName` naming staged dir `staged`
    * ([[publishNew]]).  Returns false only when the marker already
    * exists (someone else committed). */
  private def publishMarker(spark: SparkSession, f: FileSystem, root: Path,
      markerName: String, staged: String): Boolean =
    publishNew(spark, f, root, new Path(commitsPath(root), markerName), staged)

  /** The schema sidecar's name inside a staged dir — underscore-led,
    * so parquet listings skip it like `_SUCCESS`. */
  private val SchemaFile = "_schema"

  /** Write `df` as the staged dir `path`, then record the schema a
    * parquet scan of it reports (the written schema, all nullable). */
  private def stage(df: DataFrame, path: Path): Unit = {
    df.write.mode("overwrite").parquet(path.toString)
    // no `.crc` beside a write-once one-line file
    val f = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val out = f.create(new Path(path, SchemaFile), /*overwrite=*/ true)
    try out.write(org.apache.spark.sql.graftshim.Bridge.asNullable(df.schema).json
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Scan staged dirs.  When every dir recorded the same schema the
    * scan takes it; otherwise (a dir staged before sidecars existed,
    * or dirs that disagree) parquet infers it as before — one Spark
    * job. */
  private def readStaged(spark: SparkSession, f: FileSystem,
      dirs: Seq[String]): DataFrame = {
    val recorded = parMap(dirs)(d =>
      try Some(readSmall(f, new Path(d, SchemaFile)))
      catch { case _: java.io.FileNotFoundException => None })
    recorded.distinct match {
      case Seq(Some(json)) => spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(dirs: _*)
      case _ => spark.read.parquet(dirs: _*)
    }
  }

  /** All committed rows: the union of exactly the staged dirs the
    * live markers name. */
  def readCommitted(spark: SparkSession, dir: String): DataFrame = {
    val dirs = committedDirs(spark, dir)
    require(dirs.nonEmpty, s"TxLog at $dir has no committed batches")
    readStaged(spark, fs(spark, dir)._1, dirs)
  }

  /** ONE committed batch's rows — the incremental consumer's read
    * shape: a downstream stage that folds batches as they commit
    * (e.g. [[graft.ext.Components.incrementalComponentsDelta]] over a
    * pair log) reads each increment alone instead of re-scanning the
    * whole log.  One marker stat + one body read + one staged-dir
    * scan, independent of log length.  Throws if the batch was never
    * committed, or if compaction has already folded it into the base
    * (its rows survive in the compacted batch but are no longer
    * separable — an incremental consumer must stay ahead of
    * compaction's `keepRecent` horizon, or checkpoint its own
    * progress and restart from [[readCommitted]]). */
  def readBatch(spark: SparkSession, dir: String, batchId: Long): DataFrame = {
    val (f, root) = fs(spark, dir)
    val marker = new Path(commitsPath(root), batchId.toString)
    // same predicate as isCommitted/liveMarkers: a zero-length marker
    // is half-published debris, NOT a commit — treating it as one
    // here would resolve an empty body to the bare _staged/ root
    val exists = try {
      val st = f.getFileStatus(marker); st.isFile && st.getLen > 0
    } catch { case _: java.io.FileNotFoundException => false }
    if (!exists) {
      if (lastCompactedId(spark, dir).exists(batchId <= _))
        throw new IllegalStateException(
          s"TxLog at $dir: batch $batchId was folded by compaction and is no " +
            "longer separately readable — read the compacted base via " +
            "readCommitted, or raise compact's keepRecent above the " +
            "consumer's lag")
      throw new IllegalStateException(
        s"TxLog at $dir: batch $batchId is not committed")
    }
    val staged = readSmall(f, marker)
    readStaged(spark, f, Seq(new Path(root, s"_staged/$staged").toString))
  }

  /** Live writer batch ids (compaction-folded ids are subsumed by
    * [[lastCompactedId]] and not listed). */
  def committedBatchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val (f, root) = fs(spark, dir)
    liveMarkers(f, root)._1
  }

  /** The staged dirs the live markers resolve to — the path-resolution
    * step [[readCommitted]] pays before its parquet scan (exposed for
    * callers that compose their own read, and for counting marker
    * cost: ScaleSpec pins one listing and one read per live marker). */
  def committedDirs(spark: SparkSession, dir: String): Seq[String] = {
    val (f, root) = fs(spark, dir)
    val (ids, compactId) = liveMarkers(f, root)
    val names = compactId.map(cName).toSeq ++ ids.map(_.toString)
    parMap(names)(n => readSmall(f, new Path(commitsPath(root), n)))
      .map(b => new Path(root, s"_staged/$b").toString)
  }

  /** `fn` over metadata-sized reads: sequential up to
    * [[bulkReadThreshold]] items, above it a bounded thread pool —
    * each item is a one-line read, so concurrency (not a Spark job)
    * amortizes the per-open latency. */
  private def parMap[A, B](xs: Seq[A])(fn: A => B): Seq[B] =
    if (xs.size <= bulkReadThreshold) xs.map(fn)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(bulkReadParallelism)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            xs.map(x => scala.concurrent.Future(fn(x))(ec)))(
            scala.collection.BuildFrom.buildFromIterableOps, ec),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** Fold committed batches into ONE, bounding the live-marker count
    * (the documented knob: compact before the log reaches ~10^5
    * markers).  `keepRecent` leaves that many of the newest writer
    * batches unfolded — generational compaction, so a frequently-run
    * compact never rewrites the whole corpus, only the closed tail.
    *
    * Crash-safe at every point: the folded batch is published under
    * `c<maxFoldedId>` (its own marker namespace — a writer's next
    * batch id can never collide with it), and readers ignore
    * stale markers BY NAME the instant the folded marker lands, so
    * there is no double-read window; a crash before the stale-marker
    * deletes finishes is healed by [[vacuum]].  Single-WRITER,
    * ENFORCED: the call holds the maintenance lease for its duration,
    * so a second concurrent compactor — or a [[commitBatch]] racing
    * the fold — fails loudly with the holder's identity instead of
    * corrupting quietly (the old failure mode: an in-flight commit's
    * staged dir vacuumed from under its marker).
    *
    * Returns the folded marker's ceiling id, or None when fewer than
    * two live markers would fold. */
  def compact(spark: SparkSession, dir: String, keepRecent: Int = 0,
      graceMs: Long = defaultVacuumGraceMs): Option[Long] =
    compactWith(spark, dir, (df, _) => df, keepRecent, graceMs)

  /** [[compact]] with a SEMANTIC fold: `fold(unionOfFoldedBatches,
    * ceilingId)` is what lands as the new base — the LSM compaction
    * that bounds the log's ROW count, not just its marker count.  A
    * delta log's resolution cost grows with accumulated rows until
    * superseded rows are dropped; pass the log's own resolution as
    * the fold (e.g. [[graft.ext.Components.resolveAssignments]]
    * re-stamped with `batch = ceilingId` for an assignment log,
    * [[graft.ext.Components.resolveSurvivors]] likewise for a
    * survivor log — a dead component's tombstone may drop at the
    * fold because a min-id label can never be reborn) and the base
    * shrinks to live rows only.  The fold sees ONLY the folded
    * batches (never the `keepRecent` tail), so resolution semantics
    * compose: resolve(fold(folded) ∪ tail) == resolve(folded ∪ tail)
    * exactly when the fold is the log's own resolution restricted to
    * a batch prefix — which max_by-latest resolution is.  The fold
    * output MUST keep the log's schema (including the batch-stamp
    * column readers resolve on).  Replay safety is unchanged: the
    * folded marker's ceiling still answers [[isCommitted]] for every
    * folded batch id, so a replayed pre-compaction writer stays a
    * no-op.
    *
    * `force` folds even a SINGLE live marker (one batch, or just the
    * compacted base).  A size-gated fold is pure overhead there — but
    * an ERASING fold (a purge's anti-join) must rewrite no matter how
    * few markers exist, or a one-batch log would silently keep its
    * purged rows.  A base-only refold keeps its ceiling and publishes
    * the next marker GENERATION (`c7` → `c7g1` → `c7g2`…), since
    * marker publishes are create-only. */
  def compactWith(spark: SparkSession, dir: String,
      fold: (DataFrame, Long) => DataFrame, keepRecent: Int = 0,
      graceMs: Long = defaultVacuumGraceMs,
      force: Boolean = false): Option[Long] = {
    require(keepRecent >= 0, s"keepRecent must be >= 0, got $keepRecent")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val token = acquireLease(spark, dir, s"compact(keepRecent=$keepRecent)")
    try compactLocked(spark, dir, fold, keepRecent, graceMs, force)
    finally releaseLease(spark, dir, token)
  }

  private def compactLocked(spark: SparkSession, dir: String,
      fold: (DataFrame, Long) => DataFrame, keepRecent: Int,
      graceMs: Long, force: Boolean): Option[Long] = {
    val (f, root) = fs(spark, dir)
    val (ids, compactId) = liveMarkers(f, root)
    val foldIds = ids.dropRight(keepRecent)
    val foldNames = compactId.map(cName).toSeq ++ foldIds.map(_.toString)
    if (foldNames.size < (if (force) 1 else 2)) return None
    val ceiling = foldIds.lastOption.getOrElse(compactId.get._1)
    // base-only refold (erasing fold, no new batches): same ceiling,
    // next generation — a fresh name for the create-only publish.
    // Any real fold has ceiling > the old floor, so generation 0's
    // plain name is free.
    val gen = if (foldIds.nonEmpty) 0L else compactId.get._2 + 1L
    val marker = cName((ceiling, gen))
    val dirs = foldNames.map { n =>
      new Path(root, s"_staged/${readSmall(f, new Path(commitsPath(root), n))}").toString
    }
    val staged = s"$marker-${java.util.UUID.randomUUID()}"
    stage(fold(readStaged(spark, f, dirs), ceiling), new Path(root, s"_staged/$staged"))
    require(publishMarker(spark, f, root, marker, staged),
      s"TxLog.compact: marker $marker already exists in $dir — " +
        "a concurrent compactor is active; compaction requires the writer role")
    // stale markers are invisible to readers already (name floor /
    // newer generation); deleting them + orphaned dirs is pure cleanup
    foldNames.foreach(n => f.delete(new Path(commitsPath(root), n), false))
    vacuumLocked(spark, dir, graceMs)
    Some(ceiling)
  }

  /** Delete staged dirs no live marker references (crashed attempts,
    * race losers, compaction-folded batches) plus stale markers and
    * leftover tmp bodies.  Returns how many staged dirs were removed.
    * Holds the maintenance lease for the call's duration — an
    * in-flight commit's staged dir looks like an orphan until its
    * marker lands, which is exactly why [[commitBatch]] refuses while
    * the lease is held.
    *
    * `graceMs` is the GC-safety window: orphan staged dirs whose
    * NEWEST modification time anywhere in their tree (task files land
    * under `_temporary/` subdirs whose writes don't refresh the
    * top-level mtime until job commit) — and `_commits/.tmp` marker
    * bodies — younger than this are LEFT ALONE, because they may
    * belong to a commit whose stage write started before this vacuum
    * acquired the lease (the lease checks bracket the stage, they
    * don't span it).  Size `graceMs` above the longest expected gap
    * between consecutive task-file writes within one stage, not the
    * whole job duration — the deep-mtime signal refreshes as tasks
    * land.  Stale
    * PUBLISHED markers carry no such risk — publication is the atomic
    * commit point, staleness is decided purely by the compaction name
    * floor — so they are reclaimed regardless of age.  Pass
    * `graceMs = 0` only when no writer can be active (crash recovery
    * with ingest down). */
  def vacuum(spark: SparkSession, dir: String,
      graceMs: Long = defaultVacuumGraceMs): Int = {
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val token = acquireLease(spark, dir, "vacuum")
    try vacuumLocked(spark, dir, graceMs)
    finally releaseLease(spark, dir, token)
  }

  private def vacuumLocked(spark: SparkSession, dir: String, graceMs: Long): Int = {
    val (f, root) = fs(spark, dir)
    val cutoff = System.currentTimeMillis() - graceMs
    def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    // stale markers first, so a crashed compact converges
    val (ids, compactId) = liveMarkers(f, root)
    val commits = commitsPath(root)
    if (f.exists(commits)) {
      val live = ids.map(_.toString).toSet ++ compactId.map(cName)
      f.listStatus(commits).toSeq.filter(_.isFile)
        .filterNot(st => live.contains(st.getPath.getName))
        .foreach(st => f.delete(st.getPath, false))
      val tmp = new Path(commits, ".tmp")
      if (f.exists(tmp))
        // a young .tmp body may be microseconds from its publish
        // rename — deleting it would turn that publish into an
        // uncaught FileNotFoundException
        f.listStatus(tmp).filter(oldEnough)
          .foreach(st => f.delete(st.getPath, false))
    }
    val stagedRoot = new Path(root, "_staged")
    if (!f.exists(stagedRoot)) return 0
    val liveDirs = committedDirs(spark, dir).map(new Path(_).getName).toSet
    // a young unmarked dir may be an in-flight commit's stage write
    // (its marker lands after the write completes).  Age must be
    // judged by the NEWEST modification time anywhere in the tree,
    // not the top-level dir's: during a Spark parquet stage write,
    // task files land under _temporary/ subdirectories and the
    // top-level mtime typically refreshes only at job commit — on
    // top-level age alone, a stage write longer than graceMs would
    // be swept mid-write.  A subpath that vanishes while we walk is
    // activity by definition — treat the dir as young.
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else {
        val children =
          try f.listStatus(st.getPath)
          catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
        (st.getModificationTime +: children.toSeq.map(newestMtime)).max
      }
    val orphans = f.listStatus(stagedRoot).toSeq
      .filterNot(st => liveDirs.contains(st.getPath.getName))
      .filter(st => newestMtime(st) <= cutoff)
    orphans.foreach(st => f.delete(st.getPath, true))
    orphans.size
  }
}
