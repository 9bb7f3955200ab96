package graft.streaming

import graft.core.{Fold, FoldAggregator}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming surface for the fold algebra (SURVEY §7.6).
  *
  * The reference's "streaming" engines are in-memory pull streams,
  * not event-time streaming (`Engines/Streaming.hs:24-25`); this is
  * the Spark-native extension: because reductions are mergeable
  * [[Fold]]s, they drop into watermarked windowed aggregation and
  * into `mapGroupsWithState` unchanged — the same `init/step/merge/
  * done` shape Spark's incremental execution needs.
  */
object StreamingAgg {

  /** A [[Fold]] as a SQL-callable UDAF column — usable in both batch
    * and streaming `groupBy(...).agg(...)`.  Folds carrying a
    * Catalyst buffer encoder (the shipped vocabulary) keep the
    * codegen'd unsafe-row buffer across the shuffle; only opaque
    * user folds fall back to Kryo.
    *
    * Input/output encoders are derived here from `TypeTag`s through
    * Catalyst's own `ExpressionEncoder`, which covers primitives,
    * products, `Seq`/`Vector`, `Map` and `Option` natively — so a
    * call site returning e.g. `Vector[Long]` or `Map[Long, Long]`
    * needs no encoder plumbing and cannot accidentally pick up a
    * Kryo output encoder from scope. */
  def foldUdaf[C, D](fd: Fold[C, D])(
      implicit ct: TypeTag[C], dt: TypeTag[D]): UserDefinedFunction = {
    val aux: Fold.Aux[C, fd.Buf, D] = fd
    val ic: Encoder[C] = ExpressionEncoder[C]()
    implicit val od: Encoder[D] = ExpressionEncoder[D]()
    udaf(FoldAggregator.auto(aux), ic)
  }

  /** Event-time tumbling-window aggregation with watermarking:
    * `readStream → withWatermark → groupBy(window, keys) → agg`.
    * Late data beyond `watermarkDelay` is dropped by Spark; state is
    * bounded (windows close).  Works identically on batch frames. */
  def windowedAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDuration: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding-window variant: windows of `windowDuration` advancing
    * every `slideDuration` (each event lands in w/s windows). */
  def slidingAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDuration: String, slideDuration: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration, slideDuration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows: per-key activity bursts separated by at least
    * `gapDuration` of silence — state closes when the watermark
    * passes a session's end, so state stays bounded. */
  def sessionAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      gapDuration: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gapDuration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** The encoder a fold's buffer travels the state store under: the
    * fold's own Catalyst product encoder when it carries one (the
    * whole shipped vocabulary does — the state-store value is then a
    * readable typed row), Kryo only as the documented fallback for
    * opaque user folds whose buffer has no Catalyst encoder. */
  private def stateBufEncoder[C, D](fd: Fold[C, D]): Encoder[fd.Buf] =
    fd.bufEncoder.getOrElse(Encoders.kryo(
      scala.reflect.ClassTag.AnyRef.asInstanceOf[scala.reflect.ClassTag[fd.Buf]]))

  /** `a + b` clamped at `Long.MaxValue` — TTL deadlines are computed
    * as firstSeen + ttlMs, and a caller passing a ttl near
    * Long.MaxValue must saturate, not wrap negative (a wrapped
    * deadline makes every batch look lapsed and breaks dedup). */
  private[streaming] def satAdd(a: Long, b: Long): Long =
    try math.addExact(a, b)
    catch { case _: ArithmeticException =>
      if ((a < 0) == (b < 0) && a < 0) Long.MinValue else Long.MaxValue }

  /** Continuously-updated per-key fold over a stream — the streaming
    * twin of the batch engine's PerKeyFold path.  State = the fold
    * buffer (mergeable, so recovery/retry-safe); emits the current
    * `done(buffer)` per key on every trigger.
    *
    * v1-API form (`mapGroupsWithState`): no state TTL is available
    * here short of managing timeouts by hand, so keys live forever —
    * fine for bounded key domains; for unbounded ones use
    * [[runningFoldTws]], which carries the same buffer under a native
    * encoder with a real `TTLConfig`. */
  def runningFold[K, C, D](ds: Dataset[(K, C)], fd: Fold[C, D])(
      implicit ek: Encoder[K], ekd: Encoder[(K, D)]): Dataset[(K, D)] = {
    implicit val bufEnc: Encoder[fd.Buf] = stateBufEncoder(fd)
    ds.groupByKey(_._1)
      .mapGroupsWithState[fd.Buf, (K, D)](GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[(K, C)], state: GroupState[fd.Buf]) =>
          val b0 = if (state.exists) state.get else fd.init
          val b1 = rows.foldLeft(b0)((b, kc) => fd.step(b, kc._2))
          state.update(b1)
          (k, fd.done(b1))
      }
  }

  /** [[runningFold]] on `transformWithState` — the production form:
    * the fold buffer lives in a named `ValueState` under the fold's
    * own Catalyst encoder (a typed row in the state store, not a Kryo
    * blob), and `ttl` bounds each key's state lifetime (processing-
    * time TTL; an idle key's buffer is dropped once the TTL passes,
    * so the next occurrence restarts the fold from `init` — the same
    * bounded-state-on-unbounded-keys contract as the dedup operators).
    * `TTLConfig.NONE` keeps state forever, matching [[runningFold]].
    *
    * Time mode follows the TTL: `TimeMode.None` without one,
    * `TimeMode.ProcessingTime` with one (state TTL is processing-time
    * based and needs the clock).  Note the operational difference: in
    * ProcessingTime mode Spark keeps scheduling micro-batches even
    * with no data (TTL must advance on the wall clock), so pace the
    * query with a real `Trigger.ProcessingTime(...)` — and
    * `processAllAvailable()` never returns on such a query (there is
    * always "another batch"); await sink contents instead.
    *
    * Requires the RocksDB state store provider, like every
    * transformWithState operator. */
  def runningFoldTws[K, C, D](ds: Dataset[(K, C)], fd: Fold[C, D],
      ttl: TTLConfig = TTLConfig.NONE)(
      implicit ek: Encoder[K], ekd: Encoder[(K, D)]): Dataset[(K, D)] = {
    val aux: Fold.Aux[C, fd.Buf, D] = fd
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    ds.groupByKey(_._1)
      .transformWithState(
        new RunningFoldProcessor[K, C, fd.Buf, D](aux, ttl, stateBufEncoder(fd)),
        timeMode, OutputMode.Update())
  }

  /** State machine behind [[runningFoldTws]]: one named `ValueState`
    * holding the fold buffer.  An expired (TTL-lapsed) value reads as
    * absent, so the step function restarts from `fd.init` naturally. */
  private final class RunningFoldProcessor[K, C, S, D](
      fd: Fold.Aux[C, S, D], ttl: TTLConfig, bufEnc: Encoder[S])
      extends StatefulProcessor[K, (K, C), (K, D)] {
    @transient private var buf: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[S]("buf", bufEnc, ttl)

    override def handleInputRows(key: K, rows: Iterator[(K, C)],
        tv: TimerValues): Iterator[(K, D)] = {
      val b0 = if (buf.exists()) buf.get() else fd.init
      val b1 = rows.foldLeft(b0)((b, kc) => fd.step(b, kc._2))
      buf.update(b1)
      Iterator.single((key, fd.done(b1)))
    }
  }

  /** Full-precision event-time key: microseconds since epoch.
    * `Timestamp.getTime` is millisecond-truncated while Spark
    * timestamps carry microseconds — ordering by getTime would
    * collapse sub-millisecond-spaced events and pick a different
    * "first" than a full-precision batch oracle. */
  def eventTimeMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming exact-dedup via EXPLICIT keyed state — the general
    * state-store primitive ([[dedupStream]] wraps Spark's built-in
    * `dropDuplicatesWithinWatermark`; this one owns the state machine,
    * the shape any custom streaming-state operator follows).
    *
    * Emits the FIRST occurrence per key — min (event time, value) —
    * and thereafter suppresses the key.  Per-key state is ONE long
    * (the first-seen event time) and expires via `EventTimeTimeout`
    * once the watermark passes firstSeen + ttlMs: a duplicate arriving
    * after expiry is treated as new and re-emitted — the price of
    * bounded state on an unbounded stream, same contract as
    * [[dedupStream]].  Input rows are (key, eventTime, value); the
    * watermark is applied here on the event-time field.
    *
    * Determinism note (gate-relevant): the emitted row is the min
    * (time, value) WITHIN the microbatches seen before later rows of
    * that key — a feed sorted by (time, value) makes it the global
    * min, which is what the batch oracle computes. */
  def statefulDedupFirst[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
      watermarkDelay: String, ttlMs: Long)(
      implicit ek: Encoder[K], eo: Encoder[(K, java.sql.Timestamp, V)],
      ordV: Ordering[V]): Dataset[(K, java.sql.Timestamp, V)] = {
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    ds.withWatermark("_2", watermarkDelay)
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, java.sql.Timestamp, V)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: K, rows: Iterator[(K, java.sql.Timestamp, V)], state: GroupState[Long]) =>
          // a key with BOTH timed-out state and new data in one batch
          // arrives with hasTimedOut = false — the TTL must also be
          // checked manually on the data path, or the first batch
          // after expiry would still be suppressed
          val lapsed = state.getOption.exists(firstSeen =>
            state.getCurrentWatermarkMs() > satAdd(firstSeen, ttlMs))
          if (state.hasTimedOut || (lapsed && !rows.hasNext)) {
            state.remove(); Iterator.empty
          } else if (state.exists && !lapsed) Iterator.empty // emitted this era
          else {
            if (lapsed) state.remove() // new era for this key
            val first = rows.minBy(r => (eventTimeMicros(r._2), r._3))
            state.update(first._2.getTime)
            // timeout must sit above the current watermark or Spark
            // rejects it — a TTL already passed collapses to "expire
            // at the next trigger"
            state.setTimeoutTimestamp(math.max(satAdd(first._2.getTime, ttlMs),
              state.getCurrentWatermarkMs() + 1))
            Iterator.single(first)
          }
      }
  }

  /** [[statefulDedupFirst]] re-expressed on `transformWithState` —
    * Spark 4's arbitrary-state v2 API (SPARK-46815) and the general
    * form every new custom state operator should target: named state
    * variables (value/list/map) instead of one opaque state object,
    * explicit timers instead of a single timeout slot, and native
    * state TTL.  Contract is identical to [[statefulDedupFirst]]
    * (first occurrence per key emitted, duplicates suppressed until
    * the watermark passes firstSeen + ttlMs, then the key starts a
    * new era).
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState does
    * not run on the default HDFS-backed store. */
  def statefulDedupFirstTws[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
      watermarkDelay: String, ttlMs: Long)(
      implicit ek: Encoder[K], eo: Encoder[(K, java.sql.Timestamp, V)],
      ordV: Ordering[V]): Dataset[(K, java.sql.Timestamp, V)] =
    ds.withWatermark("_2", watermarkDelay)
      .groupByKey(_._1)
      .transformWithState(new DedupFirstProcessor[K, V](ttlMs),
        TimeMode.EventTime(), OutputMode.Append())

  /** The state machine behind [[statefulDedupFirstTws]].  Per-key
    * state is ONE long (first-seen event-time ms) in a named
    * `ValueState`, and each key holds at most ONE live timer: the
    * current era's expiry.  An era lapses once the watermark passes
    * firstSeen + ttlMs, and an event-time timer fires once the
    * watermark reaches its timestamp, so the expiry timer sits at
    * firstSeen + ttlMs + 1 — it fires exactly when the era has lapsed,
    * and firing clears the state.  A new era first deletes the
    * previous era's timer (it would otherwise fire against the new
    * state), so no key ever carries a stale timer. */
  private final class DedupFirstProcessor[K, V](ttlMs: Long)(
      implicit ordV: Ordering[V])
      extends StatefulProcessor[K, (K, java.sql.Timestamp, V), (K, java.sql.Timestamp, V)] {
    @transient private var firstSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      firstSeen = getHandle.getValueState[Long]("firstSeen",
        Encoders.scalaLong, TTLConfig.NONE)

    /** The era's expiry timer: one past its deadline, and — like
      * setTimeoutTimestamp before it — above the current watermark,
      * or the store rejects it (an era that lapsed on arrival expires
      * at the next watermark advance). */
    private def expiryOf(seenMs: Long, wm: Long): Long =
      math.max(satAdd(satAdd(seenMs, ttlMs), 1L), wm + 1)

    override def handleInputRows(key: K,
        rows: Iterator[(K, java.sql.Timestamp, V)],
        tv: TimerValues): Iterator[(K, java.sql.Timestamp, V)] = {
      val wm = tv.getCurrentWatermarkInMs()
      val lapsed = firstSeen.exists() && wm > satAdd(firstSeen.get(), ttlMs)
      if (firstSeen.exists() && !lapsed) Iterator.empty // emitted this era
      else if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.minBy(r => (eventTimeMicros(r._2), r._3))
        firstSeen.update(first._2.getTime)
        val at = expiryOf(first._2.getTime, wm)
        // the previous era's timer is due in this very batch (its era
        // lapsed); timers fire after input rows, so deleting it here
        // keeps it from firing against the new era
        val live = getHandle.listTimers().toSeq
        live.filter(_ != at).foreach(getHandle.deleteTimer)
        if (!live.contains(at)) getHandle.registerTimer(at)
        Iterator.single(first)
      }
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(K, java.sql.Timestamp, V)] = {
      // clear only if the CURRENT era has really lapsed.  A timer this
      // processor armed fires only then; any other (state written
      // before the one-timer rule) must not kill live state, and the
      // era then gets its own expiry timer so an idle key's state is
      // never orphaned.  The firing timer is Spark's to delete.
      if (firstSeen.exists()) {
        val seen = firstSeen.get()
        val wm = tv.getCurrentWatermarkInMs()
        if (wm > satAdd(seen, ttlMs)) firstSeen.clear()
        else {
          val at = expiryOf(seen, wm)
          if (!getHandle.listTimers().contains(at)) getHandle.registerTimer(at)
        }
      }
      Iterator.empty
    }
  }

  /** Streaming dedup ON THE KEY COLUMNS ALONE (a duplicate key
    * arriving with a different event time is still dropped), with
    * state bounded by the watermark.  The guarantee is
    * WITHIN-WATERMARK-DELAY dedup, weaker than `Dedup.exact`:
    * `dropDuplicatesWithinWatermark` expires a key's state once the
    * watermark passes its event time plus the delay, so a duplicate
    * arriving AFTER its first occurrence's state expired is emitted
    * again.  That bounded state is exactly what lets it run
    * indefinitely on an unbounded stream — pick the delay ≥ the
    * maximum duplicate spread you need suppressed. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream equi-join with an event-time interval bound:
    * right rows join left rows whose timestamp lies in
    * `[right.ts - lowerBound, right.ts + upperBound]`.  BOTH sides
    * must be watermarked (done here) — that plus the time bound is
    * what lets Spark expire join state, so state stays bounded on
    * unbounded streams.  The streaming twin of an as-of/interval
    * join for feature enrichment at ingest. */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
      rightTs: String, keys: Seq[String], watermarkDelay: String,
      lowerBound: String, upperBound: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val timeCond =
      l(leftTs) >= r(rightTs) - expr(s"INTERVAL $lowerBound") &&
        l(leftTs) <= r(rightTs) + expr(s"INTERVAL $upperBound")
    // keep one copy of each key column (the left one)
    keys.foldLeft(l.join(r, keyCond && timeCond))((d, k) => d.drop(r(k)))
  }

  /** Convenience: run a streaming Dataset to a named in-memory sink
    * (testing / interactive inspection). */
  def toMemorySink(df: DataFrame, name: String, outputMode: OutputMode)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()

  /** Continuously maintain a persisted LSH dedup index from a
    * document stream: each micro-batch is probed against the stored
    * index — the near-dup pairs it introduces (batch↔index and
    * batch↔batch) land in `pairsTable` — and is then appended to the
    * index under the same bucket spec
    * ([[graft.ext.Dedup.ingestBatchIntoIndex]]).
    *
    * foreachBatch recovery is at-least-once; the `<name>_batches`
    * marker table turns replays into no-ops, and the index appends
    * themselves are replay-safe (each batch overwrites its own
    * batch_id partition).  Index state lives in
    * the bucketed index tables, NOT the streaming state store — the
    * store would otherwise hold every signature in the corpus, while
    * the table form keeps the probe join's scale shape (only the new
    * batch shuffles; the index side never re-Exchanges).
    *
    * With `txPairsDir` set, the pairs land in a
    * [[graft.sources.TxLog]] manifest log there instead of
    * `pairsTable`, upgrading the pairs output to EXACTLY-ONCE under
    * crash-replay ([[graft.ext.Dedup.ingestBatchIntoIndexTx]]); read
    * them back with [[graft.sources.TxLog.readCommitted]].  Full
    * crash-recover-compact lifecycle: SCALE.md §"Ingest recovery
    * runbook". */
  def lshIndexSink(docs: DataFrame, idCol: String, textCol: String,
      name: String, pairsTable: String, checkpointDir: Option[String] = None,
      n: Int = 3, bands: Int = 8, buckets: Int = 16,
      minJaccard: Double = 0.0, txPairsDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      txPairsDir match {
        case Some(dir) => graft.ext.Dedup.ingestBatchIntoIndexTx(batch.toDF(),
          batchId, idCol, textCol, name, dir, n, bands, buckets, minJaccard)
        case None => graft.ext.Dedup.ingestBatchIntoIndex(batch.toDF(),
          batchId, idCol, textCol, name, pairsTable, n, bands, buckets, minJaccard)
      }
      ()
    }.start()
  }

  /** Maintain a persisted BM25 index from a document stream — the
    * retrieval twin of [[lshIndexSink]].  Each micro-batch lands
    * through the marker-gated ingest
    * ([[graft.ext.Retrieval.ingestBm25Batch]]), so an at-least-once
    * redelivery — an uncheckpointed restart replaying earlier epochs,
    * or a crash-replay of the current one — is a no-op at the seen
    * gate, and stays one even after [[graft.ext.Retrieval.compactBm25Index]]
    * has folded the batch's partitions away.  `batchIdBase` offsets
    * the stream's epoch ids into the index's batch-id space, the
    * [[curationSink]] convention for fresh-stream restarts that must
    * resume ABOVE previously landed ids. */
  def bm25IndexSink(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchIdBase: Long = 0L, buckets: Int = 16,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      graft.ext.Retrieval.ingestBm25Batch(batch.toDF(), batchIdBase + batchId,
        idCol, textCol, name, buckets)
      ()
    }.start()
  }

  /** Maintain a persisted ANN index from an embedding stream — the
    * vector twin of [[bm25IndexSink]]: each micro-batch is assigned
    * against the index's FROZEN codebook and lands through the
    * marker-gated ingest ([[graft.ext.AnnIndex.ingestAnnBatch]]), so
    * an at-least-once redelivery is a no-op at the seen gate, across
    * compaction boundaries included.  The index must already be
    * bootstrapped ([[graft.ext.AnnIndex.writeAnnIndex]] — that is
    * where the quantizer trains). */
  def annIndexSink(emb: DataFrame, idCol: String, vecCol: String,
      name: String, batchIdBase: Long = 0L, buckets: Int = 16,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = emb.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      graft.ext.AnnIndex.ingestAnnBatch(batch.toDF(), batchIdBase + batchId,
        idCol, vecCol, name, buckets)
      ()
    }.start()
  }

  /** Maintain a decontamination FLAG LOG from a stream of benchmark
    * queries — the read-side twin of [[bm25IndexSink]]: the corpus
    * and its BM25 index stay FROZEN while eval suites arrive as
    * micro-batches of (qid, term) rows.  Each batch probes the index
    * (bucket-pruned to its own terms — O(batch postings) regardless
    * of corpus size), flags the top-`k` docs per query scoring at
    * least `floor` (on the rounded score, the
    * [[graft.queries.PipelineQueries]] q112 contract), and commits
    * the flagged ids as ONE TxLog batch of ≤ |batch queries| × k
    * rows.  At-least-once redelivery no-ops at the commit marker —
    * across flag-log compactions included — and the guard runs
    * BEFORE the probe, so a replay costs a marker probe, not a
    * scoring pass.  Downstream reads
    * [[graft.sources.TxLog.readCommitted]] → distinct → broadcast
    * anti-join: the corpus is never rewritten.  `batchIdBase` is the
    * [[curationSink]] restart convention. */
  def decontamFlagSink(bench: DataFrame, qidCol: String, termCol: String,
      indexName: String, flagDir: String, k: Int, floor: Double,
      idCol: String = "id", k1: Double = 1.2, b: Double = 0.75,
      batchIdBase: Long = 0L, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = bench.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val s = batch.sparkSession
      val id = batchIdBase + batchId
      if (!graft.sources.TxLog.isCommitted(s, flagDir, id)) {
        val flags = graft.ext.Retrieval.bm25TopKFromIndex(s, indexName,
            batch.toDF(), qidCol, termCol, k, idCol, k1, b)
          .where(col("score") >= floor)
          .select(col(idCol)).distinct()
        graft.sources.TxLog.commitBatch(flags, flagDir, id)
      }
      ()
    }.start()
  }

  /** Maintain the passage-removal keeper index from a document
    * stream — each micro-batch cleans ON ARRIVAL against the stored
    * keepers and folds its novel grams in
    * ([[graft.ext.Decontaminate.ingestPassageBatch]]): cleaned docs
    * land in the TxLog at `cleanDir`, keeper/stats partitions are
    * marker-gated, and an at-least-once redelivery no-ops before any
    * compute — across keeper-index compactions included.  The stream
    * must deliver batches in id order (the index's monotone
    * first-arrival contract; a violating batch fails the query
    * loudly).  The index must already be bootstrapped
    * ([[graft.ext.Decontaminate.writePassageIndex]]).  `batchIdBase`
    * is the [[curationSink]] restart convention.  `cadenceCheck`
    * defaults ON here (unlike the batch ingest): a stream is exactly
    * the deployment that runs under-sized batches for months without
    * anyone re-reading the amortization contract, and the check's
    * cost — one footer-only count per batch — is noise against the
    * ingest's own job count. */
  def passageIndexSink(docs: DataFrame, idCol: String, textCol: String,
      name: String, cleanDir: String, n: Int = 8, buckets: Int = 16,
      batchIdBase: Long = 0L, checkpointDir: Option[String] = None,
      cadenceCheck: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      graft.ext.Decontaminate.ingestPassageBatch(batch.toDF(),
        batchIdBase + batchId, idCol, textCol, name, cleanDir, n, buckets,
        cadenceCheck = cadenceCheck)
      ()
    }.start()
  }

  /** The FULL composed hygiene pipeline as one streaming query — the
    * five-stage q122 composition maintained per micro-batch
    * ([[graft.ext.Hygiene.hygieneStep]]: dedup/curation layers →
    * passage ownership repair + clean → mutable BM25 deltas →
    * decontamination flag set).  Documents must arrive in id order
    * (the passage index's monotone first-arrival contract) with
    * contiguous batch ids — either violation fails the query loudly.
    * The LSH index must already be bootstrapped under
    * `<name>_lsh`; every other table/log bootstraps on first use.
    * `batchIdBase` is the [[curationSink]] uncheckpointed-restart
    * convention: without a checkpoint, epoch 0 must not alias a
    * marked batch SILENTLY while carrying different documents — the
    * step's marker would drop them — so the base must sit above every
    * marked id.  `cadenceCheck` defaults ON here (the batch-driven
    * [[graft.ext.Hygiene.hygieneStep]] defaults it off): a stream is
    * the deployment that runs under-sized batches unattended, and
    * the check is one footer-only count against ~150 jobs/step. */
  def hygieneSink(docs: DataFrame, idCol: String, textCol: String,
      scoresFor: DataFrame => DataFrame, scoreCol: String,
      rawTextFor: DataFrame => DataFrame,
      st: graft.ext.Hygiene.HygieneState, bench: DataFrame,
      qidCol: String, termCol: String, k: Int, floor: Double,
      passageN: Int = 8, lshN: Int = 3, bands: Int = 8,
      buckets: Int = 16, minJaccard: Double = 0.0,
      batchIdBase: Long = 0L, checkpointDir: Option[String] = None,
      cadenceCheck: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    if (checkpointDir.isEmpty) {
      val marked = graft.ext.IndexLifecycle
        .committedIds(docs.sparkSession, st.name).filter(_ >= 0L)
      marked.reduceOption(_ max _).foreach(m =>
        require(batchIdBase > m,
          s"hygieneSink without a checkpointDir: batchIdBase=" +
            s"$batchIdBase must exceed the max marked batch id ($m) — " +
            "otherwise a restart's epoch 0 aliases a marked batch and " +
            "the step silently drops its documents"))
    }
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
      graft.ext.Hygiene.hygieneStep(batch.toDF(), batchIdBase + epochId,
        idCol, textCol, scoresFor, scoreCol, rawTextFor, st, bench,
        qidCol, termCol, k, floor, passageN, lshN, bands, buckets,
        minJaccard, cadenceCheck = cadenceCheck)
      ()
    }.start()
  }

  /** The FULL continuous-curation maintenance loop as one streaming
    * query — the production composition gate q93/q100 run batch-wise,
    * wired into `foreachBatch`.  Per micro-batch:
    *
    *   1. exactly-once pair emission: Tx-ingest the batch into the
    *      named LSH index ([[graft.ext.Dedup.ingestBatchIntoIndexTx]]
    *      — a replayed batch is a no-op at its marker);
    *   2. fold the batch's committed pairs into the assignment delta
    *      log: O(|batch|) contraction closure, O(|changed|) append,
    *      guarded by the log's own batch marker;
    *   3. append the survivor delta — re-picked rows for touched
    *      components + tombstones for absorbed ones — to the survivor
    *      log, O(members of touched components), its own marker;
    *   4. when `emitDir` is set: append the CORPUS-GATE delta —
    *      (id, kept) for every arriving doc and every member of a
    *      touched component — so downstream consumes the gated
    *      corpus incrementally ([[graft.ext.Components.emissionDelta]]
    *      / [[graft.ext.Components.resolveEvicted]]) instead of
    *      re-filtering the whole corpus per batch.
    *
    * ALL state lives in TxLog-manifested parquet dirs (pair log,
    * assignment log, survivor log, optional emission log) + the
    * index tables: a restart
    * resumes from the markers with nothing in memory to lose, and a
    * batch replayed by the streaming engine re-commits nothing.
    * Read sides: [[graft.ext.Components.resolveAssignments]] over the
    * assignment log, [[graft.ext.Components.resolveSurvivors]] over
    * the survivor log.
    *
    * `scoresFor` maps a frame of member ids (column `idCol`) to
    * (`idCol`, `scoreCol`) — called only on members of touched
    * components, so scoring cost is per-batch O(touched), not
    * O(corpus).  The index must exist before the stream starts
    * ([[graft.ext.Dedup.writeLshIndex]] on the seed corpus, or on an
    * empty frame for a from-scratch stream).  Batch ids are the
    * engine's epoch ids offset by `batchIdBase` — set it above any
    * bootstrap batch already committed to the logs.
    *
    * RESTART SAFETY: any restartable deployment MUST set
    * `checkpointDir` — with a checkpoint the engine resumes epoch
    * ids where it left off and the Tx markers only no-op GENUINE
    * replays.  Without one, a restarted stream's epochs begin at 0
    * again, `batchIdBase + 0` collides with already-committed batch
    * ids, and all three layers would silently treat brand-new data
    * as replays (silent loss, not a loud conflict).  Guard: when
    * `checkpointDir` is None this method requires `batchIdBase` to
    * exceed every batch id already committed to (or compacted into)
    * the three logs, failing fast at start instead. */
  def curationSink(docs: DataFrame, idCol: String, textCol: String,
      scoresFor: DataFrame => DataFrame, scoreCol: String, name: String,
      pairsDir: String, assignDir: String, survivorDir: String,
      checkpointDir: Option[String] = None, batchIdBase: Long = 1L,
      n: Int = 3, bands: Int = 8, buckets: Int = 16,
      minJaccard: Double = 0.0, emitDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.TxLog
    if (checkpointDir.isEmpty) {
      // no checkpoint ⇒ a restart replays epoch 0: fail FAST if
      // batchIdBase+0 would alias a batch any log already holds
      // (compaction folds markers away, so count the compaction
      // watermark too), instead of silently no-op'ing new data
      val sess = docs.sparkSession
      val committedMax = (Seq(pairsDir, assignDir, survivorDir) ++ emitDir)
        .flatMap { d =>
          TxLog.committedBatchIds(sess, d) ++ TxLog.lastCompactedId(sess, d)
        }
      committedMax.reduceOption(_ max _).foreach { m =>
        require(batchIdBase > m,
          s"curationSink without a checkpointDir: batchIdBase=$batchIdBase " +
            s"must exceed the max batch id already committed/compacted " +
            s"($m) — otherwise a restart's epoch 0 aliases a committed " +
            "batch and all three layers silently drop its documents. " +
            "Set checkpointDir for restartable deployments.")
      }
    }
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
      curationStep(batch.toDF(), batchIdBase + epochId, idCol, textCol,
        scoresFor, scoreCol, name, pairsDir, assignDir, survivorDir,
        emitDir, n, bands, buckets, minJaccard)
    }.start()
  }

  /** ONE batch of the curation-maintenance protocol — the
    * [[curationSink]] foreachBatch body, extracted so the
    * inter-layer crash points are testable deterministically
    * (StreamingSpec kills the step between layer commits via
    * `layerHook` and re-runs it) and so batch drivers (q93's loop
    * shape) can share the exact streamed protocol.  Layers, in
    * commit order, each marker-gated so a replayed or crash-resumed
    * batch re-commits nothing:
    *
    *   1. `pairs`: Tx-ingest into the LSH index, pair emission;
    *   2. `assign`: contract the batch's pairs onto prior roots,
    *      append the O(|changed|) assignment delta;
    *   3. `survivors`: re-pick touched components, tombstone
    *      absorbed labels, append O(touched);
    *   4. `emit` (only when `emitDir` is set): append the
    *      corpus-gate delta — (id, kept) for every batch doc and
    *      every member of a touched component
    *      ([[graft.ext.Components.emissionDelta]]) — the O(touched)
    *      stream a training job consumes via
    *      [[graft.ext.Components.resolveEvicted]].
    *
    * `layerHook(layer, batchId)` fires AFTER each layer's commit
    * returns — a crash there leaves earlier layers committed and
    * later ones absent, exactly the partial-batch state a restart
    * must converge from.
    *
    * Layers 2-4 read the PREVIOUS layer's batch increment back via
    * `TxLog.readBatch`, so mid-protocol compaction must keep the
    * in-flight batch separable (compact with `keepRecent` ≥ 1, or
    * only between fully-completed batches — the q103 cadence). */
  /** @param dropPairIds single-column frame of PURGED doc ids whose
    *   pairs must not enter the closure ([[graft.ext.Hygiene]]'s
    *   purge registry): the LSH index may still hold a purged
    *   document's signatures until the erasing compaction, so the
    *   batch probe can emit pairs against it — consumed unfiltered,
    *   such a pair would re-admit the purged id as a graph node and
    *   could bridge two live clusters the one-shot-minus-purged
    *   corpus keeps apart.  The filter runs on the BATCH's O(batch)
    *   pair increment against the (purge-rate × compaction-cadence)-
    *   bounded registry — broadcast anti-joins, never a log scan. */
  private[graft] def curationStep(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, scoresFor: DataFrame => DataFrame,
      scoreCol: String, name: String, pairsDir: String, assignDir: String,
      survivorDir: String, emitDir: Option[String] = None,
      n: Int = 3, bands: Int = 8, buckets: Int = 16,
      minJaccard: Double = 0.0,
      layerHook: (String, Long) => Unit = (_, _) => (),
      dropPairIds: Option[DataFrame] = None): Unit = {
    import graft.ext.{Components, Dedup}
    import graft.sources.TxLog
    val s = batch.sparkSession
    // The resolved assignment BEFORE this batch, materialized once
    // (localCheckpoint) when the assign layer runs: the contraction
    // scans it twice (endpoint lookup, remap), and the after-state
    // below is built on it.
    var prior: Option[DataFrame] = None
    // The resolved assignment AFTER this batch's delta, shared by the
    // survivor and emission layers.  It is the prior with the
    // committed delta applied — the delta carries the newest batch
    // id, so for its nodes it is what latest-per-node resolution of
    // the log picks — at the cost of a broadcast anti-join over the
    // materialized prior instead of a second resolve of the whole log.
    // Only a crash-resumed batch whose assign layer had already
    // committed resolves the log (materialized once, like the prior).
    // Lazy so a fully-replayed batch (every layer marker-gated) never
    // pays it.  The driver references die with the step; the
    // ContextCleaner releases the blocks on GC.
    var afterCache: Option[DataFrame] = None
    def resolvedAfter(delta: DataFrame): DataFrame = afterCache.getOrElse {
      val r = prior match {
        case Some(p) => p.join(broadcast(delta.select(col(idCol))), Seq(idCol), "left_anti")
          .unionByName(delta)
        case None => Components.resolveAssignments(
          TxLog.readCommitted(s, assignDir), idCol, "batch").localCheckpoint()
      }
      afterCache = Some(r); r
    }
    Dedup.ingestBatchIntoIndexTx(batch, batchId, idCol, textCol,
      name, pairsDir, n, bands, buckets, minJaccard)
    layerHook("pairs", batchId)
    if (!TxLog.isCommitted(s, assignDir, batchId)) {
      val pairsRaw = TxLog.readBatch(s, pairsDir, batchId)
      val pairs = dropPairIds.fold(pairsRaw)(p =>
        pairsRaw
          .join(broadcast(p.toDF("id_a")), Seq("id_a"), "left_anti")
          .join(broadcast(p.toDF("id_b")), Seq("id_b"), "left_anti"))
      val p =
        if (TxLog.committedDirs(s, assignDir).nonEmpty)
          Components.resolveAssignments(
            TxLog.readCommitted(s, assignDir), idCol, "batch")
            .localCheckpoint()
        else {
          // bootstrap: an empty log means this is the first batch —
          // every endpoint enters the closure as its own root.  A
          // local frame, so probing it runs no job
          val idT = pairs.schema(pairs.schema.fieldIndex("id_a")).dataType
          s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(idCol, idT),
              org.apache.spark.sql.types.StructField("component", idT))))
        }
      prior = Some(p)
      val delta = Components.incrementalComponentsDelta(
        p, pairs, "id_a", "id_b", idCol)
      TxLog.commitBatch(delta.withColumn("batch", lit(batchId)),
        assignDir, batchId)
    }
    layerHook("assign", batchId)
    if (!TxLog.isCommitted(s, survivorDir, batchId)) {
      val delta = TxLog.readBatch(s, assignDir, batchId).drop("batch")
      val assignments = resolvedAfter(delta)
      val touchedMembers = assignments.join(
        broadcast(delta.select(col("component")).distinct()),
        Seq("component"), "left_semi")
      // tombstones gate on labels the survivor log actually holds
      // (an empty log on batch 1 means none)
      val priorComponents =
        if (TxLog.committedDirs(s, survivorDir).nonEmpty)
          TxLog.readCommitted(s, survivorDir).select("component")
        else assignments.select("component").limit(0)
      val sdelta = Components.survivorDelta(assignments, delta,
        scoresFor(touchedMembers), idCol, scoreCol, priorComponents)
      TxLog.commitBatch(sdelta.withColumn("batch", lit(batchId)),
        survivorDir, batchId)
    }
    layerHook("survivors", batchId)
    emitDir.foreach { eDir =>
      if (!TxLog.isCommitted(s, eDir, batchId)) {
        val delta = TxLog.readBatch(s, assignDir, batchId).drop("batch")
        val survivorBatch = TxLog.readBatch(s, survivorDir, batchId)
        val emission = Components.emissionDelta(resolvedAfter(delta), delta,
          survivorBatch, batch.select(col(idCol)), idCol)
        TxLog.commitBatch(emission.withColumn("batch", lit(batchId)),
          eDir, batchId)
      }
      layerHook("emit", batchId)
    }
  }

  /** Durable parquet sink with exactly-once file commits: the
    * checkpoint tracks progress, so restarts resume without
    * duplicating output — the production sink for an ingest-dedup /
    * windowed-feature stream. Append mode (parquet sinks can't
    * update), so aggregations need a watermark to finalize rows. */
  def toParquetSink(df: DataFrame, path: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()
}
