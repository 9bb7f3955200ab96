package graft.perfbench

import scala.collection.immutable.ListMap

import graft.core._
import graft.queries.RefQueries
import graft.simple.Simple
import org.apache.spark.sql.{Dataset, Row}

/** The paper's fold algebra on both engines: the reference's two
  * criterion tasks on the typed engine (`Simple` over `DatasetEngine`)
  * and Q01/Q03/Q08 on the untyped `FrameQuery` path. */
final class FoldGroupby(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  val name = "fold_groupby"
  // the first passes run markedly slower than later ones (JIT, codegen)
  override val warmUpPasses = 3
  private val in = ctx.inputs

  private var t1: Dataset[(String, Int)] = _
  private var t2: Dataset[Map[String, Int]] = _
  private var expected1: Map[String, Double] = Map.empty
  private var expected2: Map[Int, Double] = Map.empty
  private val refRows = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Row])]

  private val filterEven = Unpack.Filter[(String, Int)](_._2 % 2 == 0)
  private val meltRagged = Unpack.Explode[Map[String, Int], (Int, Double)] { m =>
    for { a <- m.get("A").iterator; b <- m.get("B").iterator
          c <- m.get("C").iterator } yield (c, (a + b).toDouble)
  }

  private val queries: Seq[(String, String, () => org.apache.spark.sql.DataFrame)] = Seq(
    ("q01_group_sum", RefQueries.q01Sql, () => RefQueries.q01(ctx.spark, in.tablesDir)),
    ("q03_multi_agg", RefQueries.q03Sql, () => RefQueries.q03(ctx.spark, in.tablesDir)),
    ("q08_mean", RefQueries.q08Sql, () => RefQueries.q08(ctx.spark, in.tablesDir)))

  /** Running 64-bit digest of generated rows (the typed inputs never
    * leave the session, so their digest is taken over the row values). */
  private def rowDigest(n: Int, row: Long => Any): String = {
    var h = 0L; var i = 0L
    while (i < n) { h = Rng.mix(h ^ row(i).##.toLong); i += 1 }
    java.lang.Long.toHexString(h)
  }

  def generate(): Map[String, String] = {
    in.writeTable("lineitem", in.lineitem.toDF())
    in.writeTable("events", in.events.toDF())
    Map("lineitem" -> in.digest("lineitem"), "events" -> in.digest("events"),
      "task1" -> rowDigest(Sizes.task1Rows, in.rows.task1Row),
      "task2" -> rowDigest(Sizes.task2Rows, in.rows.task2Row))
  }

  def load(): Unit = {
    t1 = in.task1.cache(); t1.count()
    t2 = in.task2.cache(); t2.count()
    // the reference's list-engine semantics, as a plain-Scala fold
    val s1 = new Array[Double](26); val n1 = new Array[Long](26)
    var i = 0L
    while (i < Sizes.task1Rows) {
      val (l, v) = in.rows.task1Row(i)
      if (v % 2 == 0) { val k = l.charAt(0) - 'A'; s1(k) += v; n1(k) += 1 }
      i += 1
    }
    expected1 = (0 until 26).filter(n1(_) > 0)
      .map(k => Inputs.Labels(k) -> s1(k) / n1(k)).toMap
    val s2 = scala.collection.mutable.HashMap.empty[Int, (Double, Long)]
    i = 0L
    while (i < Sizes.task2Rows) {
      meltRagged.f(in.rows.task2Row(i)).iterator.foreach { case (c, v) =>
        val (s, n) = s2.getOrElse(c, (0.0, 0L)); s2(c) = (s + v, n + 1)
      }
      i += 1
    }
    expected2 = s2.map { case (k, (s, n)) => k -> s / n }.toMap
  }

  def shape: Map[String, Any] = ListMap(
    "task1" -> ListMap("rows" -> Sizes.task1Rows, "distinct_keys" -> expected1.size,
      "bytes" -> Sizes.task1Rows.toLong * 12),
    "task2" -> ListMap("rows" -> Sizes.task2Rows, "distinct_keys" -> expected2.size,
      "bytes" -> Sizes.task2Rows.toLong * 40),
    "lineitem" -> ListMap("rows" -> Sizes.lineitemPerCopy * Sizes.copies,
      "distinct_keys" -> 3, "bytes" -> in.bytesOf("lineitem")),
    "events" -> ListMap("rows" -> Sizes.eventsPerCopy * Sizes.copies,
      "distinct_keys" -> 5, "bytes" -> in.bytesOf("events")))

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def sameMeans[K](got: Seq[(K, Double)], want: Map[K, Double]): Option[String] =
    if (got.size != want.size || got.map(_._1).toSet != want.keySet)
      Some(s"keys differ: got ${got.size}, want ${want.size}")
    else got.collectFirst { case (k, v) if !close(v, want(k)) => s"key $k: got $v, want ${want(k)}" }

  def pass(traced: Boolean): Unit = {
    val tr = ctx.trace
    tr.span("engine.typed") {
      ctx.op("task1_filter_mean") {
        Simple.hashableMapReduce(t1, filterEven,
          Assign.of[(String, Int), String, Double](_._1)(_._2.toDouble),
          Reduce.fromFold[String, Double, Double](Folds.mean)).collect().toSeq
      }(got => sameMeans(got, expected1))
      ctx.op("task2_melt_mean") {
        Simple.mapReduce(t2, meltRagged,
          Assign.of[(Int, Double), Int, Double](_._1)(_._2),
          Reduce.fromFold[Int, Double, Double](Folds.mean)).collect().toSeq
      } { got =>
        if (got.map(_._1) != got.map(_._1).sorted) Some("mapReduce output not key-ordered")
        else sameMeans(got, expected2)
      }
    }
    tr.span("engine.frame") {
      queries.foreach { case (q, _, run) =>
        ctx.op(q) {
          val df = run()
          (df.columns.toSeq, df.collect().toSeq)
        } { case (cols, rows) =>
          refRows.get(q) match {
            case None => refRows(q) = (cols, rows); None
            case Some((c0, r0)) =>
              if (c0 == cols && r0 == rows) None else Some("output differs from the first pass")
          }
        }
      }
    }
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val tr = ctx.trace
    // exact unpack counts, taken after the pass so they cost it nothing
    val (rowsIn, rowsOut) =
      if (t1 == null) (0L, 0L)
      else tr.span("simple.unpack") {
        (t1.count() + t2.count(),
          Simple.unpackOnly(t1, filterEven).count() + Simple.unpackOnly(t2, meltRagged).count())
      }
    val typed = tr.countersOf("engine.typed")
    val frame = tr.countersOf("engine.frame")
    Seq(
      ("engine.typed.s", tr.secondsOf("engine.typed"), "s"),
      ("engine.typed.cpu_s", typed.cpuNs / 1e9, "s"),
      ("engine.typed.gc_s", typed.gcMs / 1e3, "s"),
      ("engine.typed.shuffle_bytes", typed.shuffleBytes.toDouble, "bytes"),
      ("engine.typed.stages", typed.stages.toDouble, "count"),
      ("engine.frame.s", tr.secondsOf("engine.frame"), "s"),
      ("engine.frame.cpu_s", frame.cpuNs / 1e9, "s"),
      ("engine.frame.jobs", frame.jobs.toDouble, "count"),
      ("engine.frame.input_bytes", frame.inputBytes.toDouble, "bytes"),
      ("simple.unpack.rows_in", rowsIn.toDouble, "count"),
      ("simple.unpack.rows_out", rowsOut.toDouble, "count"))
  }

  def oracles: Seq[(String, String, Map[String, Any])] = queries.flatMap { case (q, sql, _) =>
    refRows.get(q).map { case (cols, rows) => (q, sql, Ctx.taggedRows(cols, rows)) }
  }

  def release(): Unit = {
    Option(t1).foreach(_.unpersist()); Option(t2).foreach(_.unpersist())
    ctx.releaseCaches()
  }
}
