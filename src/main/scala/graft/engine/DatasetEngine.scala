package graft.engine

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Typed engine: assembles an (Unpack, Assign, Reduce) triple into a
  * Spark `Dataset` plan — the analog of the reference's engines
  * (`listEngine`/`streamlyEngine`/…, SURVEY §2.1-D).  All reference
  * engine/backend choices collapse into the one Catalyst/Tungsten
  * backend (SURVEY §4-O5); the only surviving knob is ordered vs
  * unordered output (reference `groupByOrderedKey` vs
  * `groupByHashableKey`, `Engines/Streamly.hs:288-314`).
  *
  * Dispatch (the reference's `reduceFunction`, `Engines.hs:62-65`):
  *  - key-independent [[Reduce.PerKeyFold]] → one fused map-side pass
  *    ([[foldPartition]]): unpack, assign and `step` run per row into
  *    a per-partition hash map — the reference's `fromListWith` fold
  *    into a mutable hashtable (`Engines.hs:90-107`) — which emits one
  *    `(key, buffer)` per key; an `Aggregator` whose step and merge
  *    are both the fold's `merge` combines the buffers across the
  *    shuffle (never materializes a group);
  *  - key-dependent / whole-group → `mapGroups` (group streamed
  *    through an iterator, one group in memory at a time).
  */
object DatasetEngine {

  /** Retry-exact counting effect: a Spark accumulator incremented
    * inside an `UnpackM`/`AssignM` effect is AT-LEAST-ONCE under task
    * retry and speculation (the SURVEY §7.5 deviation), but the most
    * common effect — "how many rows flowed past this point" — has an
    * exactly-once form: an observed metric (`Dataset.observe` /
    * CollectMetrics) is computed inside the query itself, so Spark
    * reconciles retried tasks and the number is exact per action.
    *
    * Returns the instrumented dataset and a thunk that yields the
    * count AFTER an action has run on it.  Batch only (Spark's
    * `Observation` does not support streaming queries); arbitrary
    * non-counting effects keep the documented at-least-once
    * semantics. */
  def observedCount[T](ds: Dataset[T], name: String): (Dataset[T], () => Long) = {
    val obs = org.apache.spark.sql.Observation(name)
    val out = ds.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows_seen"))
    (out, () => obs.get("rows_seen").asInstanceOf[Long])
  }

  /** Run just the unpack step — reference `unpackOnlyFold`
    * (`Simple.hs:215-222`). */
  def unpackOnly[X, Y](ds: Dataset[X], u: Unpack[X, Y])(
      implicit ey: Encoder[Y]): Dataset[Y] = u match {
    case f: Unpack.Filter[X @unchecked] =>
      ds.filter(f.p).asInstanceOf[Dataset[Y]]
    case e: Unpack.Explode[X, Y @unchecked] =>
      ds.flatMap(x => e.f(x).iterator)
  }

  /** Effectful unpack alone — reference `unpackOnlyFoldM`
    * (`Simple.hs:219-222`); per-partition effect order (SURVEY §7.5). */
  def unpackOnlyM[X, Y](ds: Dataset[X], u: UnpackM[X, Y])(
      implicit ey: Encoder[Y]): Dataset[Y] = u match {
    case f: UnpackM.FilterM[X @unchecked] =>
      ds.mapPartitions(_.filter(f.p)).asInstanceOf[Dataset[Y]]
    case e: UnpackM.ExplodeM[X, Y @unchecked] =>
      ds.mapPartitions(_.flatMap(x => e.f(x).iterator))
  }

  /** Full pipeline: unpack → assign → group → reduce.
    * `ordered = true` sorts the result by key (reference
    * ordered-key engines give key-sorted output as a side effect of
    * `Data.Map`; we make the sort explicit — SURVEY §4-O4). */
  def run[X, Y, K, C, D](
      ds: Dataset[X],
      u: Unpack[X, Y],
      a: Assign[Y, K, C],
      r: Reduce[K, C, D],
      ordered: Boolean = false)(
      implicit ey: Encoder[Y],
      ekc: Encoder[(K, C)],
      ec: Encoder[C],
      ek: Encoder[K],
      ed: Encoder[D],
      ekd: Encoder[(K, D)]): Dataset[(K, D)] = {
    val out: Dataset[(K, D)] = r match {
      case Reduce.PerKeyFold(fd) => foldPartition(ds, u, a, fd)
      case other =>
        unpackOnly(ds, u).map(y => (a.key(y), a.value(y)))
          .groupByKey(_._1)
          .mapGroups((k, it) => (k, Reduce.run(other)(k, it.map(_._2))))
    }
    // column name differs by path: "key" (KeyValueGroupedDataset.agg)
    // vs "_1" (mapGroups tuple) — sort by position, not name
    if (ordered) out.orderBy(out.col(out.columns.head)) else out
  }

  /** The fused PerKeyFold plan: one `mapPartitions` runs unpack,
    * assign and `fd.step` per row into a per-partition hash map and
    * emits `(key, buffer)`; `groupByKey(_._1).agg(merge)` then combines
    * the buffers, `merge` being a [[FoldAggregator]] whose step and
    * merge are both `fd.merge` and whose finish is `fd.done`.  Input
    * rows are deserialized once and cross no encoder between unpack
    * and step; only the per-key buffers are re-encoded.
    *
    * Memory bound: the map holds at most
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` keys
    * (default 128), Spark's own limit on live object buffers per
    * task.  A row whose key is not in a full map passes through as the
    * single-row buffer `step(init, c)`; Spark's partial aggregate
    * combines it, with its sort fallback and spill.  The buffer crosses
    * the shuffle under `fd.bufEncoder`, else Kryo. */
  private def foldPartition[X, Y, K, C, D](
      ds: Dataset[X], u: Unpack[X, Y], a: Assign[Y, K, C], fd: Fold[C, D])(
      implicit ek: Encoder[K], ed: Encoder[D]): Dataset[(K, D)] = {
    implicit val bufEnc: Encoder[fd.Buf] = bufEncoderOf(fd)
    implicit val kbEnc: Encoder[(K, fd.Buf)] = Encoders.tuple(ek, bufEnc)
    val maxKeys = ds.sparkSession.sessionState.conf.objectAggSortBasedFallbackThreshold
    val unpack: Iterator[X] => Iterator[Y] = u match {
      case f: Unpack.Filter[X @unchecked] => xs => xs.filter(f.p)
      case e: Unpack.Explode[X, Y @unchecked] => xs => xs.flatMap(x => e.f(x).iterator)
    }
    val partials = ds.mapPartitions(xs => foldInto(unpack(xs), a, fd, maxKeys))
    val merge = new FoldAggregator[(K, fd.Buf), fd.Buf, D](
      Fold[fd.Buf, fd.Buf, D](fd.init)(fd.merge)(fd.merge)(fd.done)
        .premap[(K, fd.Buf)](_._2))(bufEnc, ed)
    partials.groupByKey(_._1).agg(merge.toColumn)
  }

  /** The fold's Catalyst buffer encoder ([[Fold.bufEncoder]]), else Kryo. */
  private def bufEncoderOf[C, D](fd: Fold[C, D]): Encoder[fd.Buf] =
    fd.bufEncoder.getOrElse(
      Encoders.kryo(scala.reflect.ClassTag.AnyRef.asInstanceOf[scala.reflect.ClassTag[fd.Buf]]))

  /** One partition's map side of [[foldPartition]]: `step` each row
    * into a hash map of at most `maxKeys` keys, pass a row whose key
    * is not in a full map through as `step(init, c)`, and emit the map
    * once the input is drained. */
  private[graft] def foldInto[Y, K, C, D](
      ys: Iterator[Y], a: Assign[Y, K, C], fd: Fold[C, D], maxKeys: Int)
      : Iterator[(K, fd.Buf)] = {
    val bufs = new java.util.HashMap[K, fd.Buf]()
    val passed = ys.flatMap { y =>
      val k = a.key(y)
      val b = bufs.get(k)
      if (b != null || bufs.containsKey(k)) {
        bufs.put(k, fd.step(b, a.value(y))); Iterator.empty
      } else if (bufs.size < maxKeys) {
        bufs.put(k, fd.step(fd.init, a.value(y))); Iterator.empty
      } else Iterator.single((k, fd.step(fd.init, a.value(y))))
    }
    passed ++ bufs.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
  }

  /** Skew-resistant variant of [[run]] for PerKeyFold reductions:
    * two-phase aggregation over a salted key.  Phase 1 folds
    * `(key, salt)` sub-groups (hot keys spread over `saltBuckets`
    * reducers); phase 2 merges the sub-buffers per key — exactly the
    * fold's `merge`, so this is semantics-preserving for ANY
    * mergeable fold.  Use when one key dominates (AQE skew handling
    * covers joins, not aggregations over pathological key
    * distributions).  Requires a fold (not a whole-group reduce —
    * those fundamentally need the full group in one place). */
  def runSalted[X, Y, K, C, D](
      ds: Dataset[X],
      u: Unpack[X, Y],
      a: Assign[Y, K, C],
      fd: Fold[C, D],
      saltBuckets: Int,
      ordered: Boolean = false)(
      implicit ey: Encoder[Y],
      ec: Encoder[C],
      ek: Encoder[K],
      ed: Encoder[D],
      ekd: Encoder[(K, D)]): Dataset[(K, D)] = {
    implicit val bufEnc: Encoder[fd.Buf] = bufEncoderOf(fd)
    implicit val ksEnc: Encoder[(K, Int)] = Encoders.tuple(ek, Encoders.scalaInt)
    implicit val kscEnc: Encoder[((K, Int), C)] = Encoders.tuple(ksEnc, ec)
    implicit val kbEnc: Encoder[(K, fd.Buf)] = Encoders.tuple(ek, bufEnc)
    // phase 1: fold (key, salt) sub-groups into buffers
    val partialAgg = new graft.core.FoldAggregator[C, fd.Buf, fd.Buf](
      Fold[C, fd.Buf, fd.Buf](fd.init)(fd.step)(fd.merge)(identity))(bufEnc, bufEnc)
    val phase1 = unpackOnly(ds, u)
      .mapPartitions { ys =>
        // deterministic salt from a per-partition counter: spreads a
        // hot key across buckets without hashing the value
        var i = 0
        ys.map { y =>
          i += 1
          ((a.key(y), i % saltBuckets), a.value(y))
        }
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(partialAgg.toColumn)
    // phase 2: merge the (at most saltBuckets) sub-buffers per key
    val mergeAgg = new graft.core.FoldAggregator[fd.Buf, fd.Buf, D](
      Fold[fd.Buf, fd.Buf, D](fd.init)(fd.merge)(fd.merge)(fd.done))(bufEnc, ed)
    val out = phase1
      .map { case ((k, _), buf) => (k, buf) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(mergeAgg.toColumn)
    if (ordered) out.orderBy(out.col(out.columns.head)) else out
  }

  /** Effectful pipeline — reference `*M` engines (`Engines.hs:59`).
    * Effects run inside `mapPartitions`: per-partition input order,
    * concurrent across partitions, re-run on task retry — the
    * documented deviation from the reference's global sequential
    * order (SURVEY §7.5).  For strict sequential parity coalesce to
    * one partition first (test-only escape hatch). */
  def runM[X, Y, K, C, D](
      ds: Dataset[X],
      u: UnpackM[X, Y],
      a: AssignM[Y, K, C],
      r: ReduceM[K, C, D],
      sequential: Boolean = false,
      ordered: Boolean = false)(
      implicit ey: Encoder[Y],
      ekc: Encoder[(K, C)],
      ek: Encoder[K],
      ekd: Encoder[(K, D)]): Dataset[(K, D)] = {
    val in = if (sequential) ds.coalesce(1) else ds
    val out = unpackOnlyM(in, u)
      .mapPartitions(_.map(a.kv))
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, r.f(k, it.map(_._2))))
    // reference mapReduceFoldM defaults to ordered-key output
    // (Simple.hs:175-187); sort positionally (tuple column "_1")
    if (ordered) out.orderBy(out.col(out.columns.head)) else out
  }
}
