package graft

import graft.core._
import graft.engine.DatasetEngine
import graft.simple.Simple
import org.scalatest.funsuite.AnyFunSuite

/** Differential tests: the Spark engine vs the local single-threaded
  * oracle from [[StepsSpec.localRun]] — the exact analog of the
  * reference's hedgehog property `direct xs === FL.fold mrF xs`
  * (`/root/reference/test/Test1.hs:54-57`), over seeded random data
  * and multiple partition counts (partitioning must not change
  * results — the distribution-safety law the reference never needed). */
class EngineDiffSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._
  private val steps = new StepsSpec

  private val rnd = new scala.util.Random(11)

  test("typed engine == local oracle (filter + sum/count/min zip), any partitioning") {
    for (n <- Seq(0, 1, 17, 1000); parts <- Seq(1, 3, 7)) {
      val xs = List.fill(n)(rnd.nextInt(10000))
      val u = Unpack.Filter[Int](_ % 2 == 0)
      val a = Assign.of[Int, Int, Int](_ % 7)(identity)
      val r = Reduce.fromFold[Int, Int, Int](Folds.sum[Int])
        .zip(Reduce.fromFold[Int, Int, Int](Folds.count[Int].map(_.toInt)))
      val expected = steps.localRun(xs, u, a, r)
      val ds = spark.createDataset(xs).repartition(parts)
      val got = DatasetEngine.run(ds, u, a, r).collect().toMap
      assert(got == expected, s"n=$n parts=$parts")
    }
  }

  test("melt engine == local oracle (Explode + mean)") {
    val xs = List.fill(500)(rnd.nextInt(1000))
    val u = Unpack.Explode[Int, Int](x => Seq(x, 2 * x))
    val a = Assign.of[Int, Boolean, Double](_ % 3 == 0)(_.toDouble)
    val r = Reduce.fromFold[Boolean, Double, Double](Folds.mean)
    val expected = steps.localRun(xs, u, a, r)
    val got = DatasetEngine.run(spark.createDataset(xs), u, a, r).collect().toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 1e-9) }
  }

  test("whole-group reduce (mapGroups path) == local oracle") {
    val xs = List.fill(300)(rnd.nextInt(100))
    val u = Unpack.none[Int]
    val a = Assign.of[Int, Int, Int](_ % 5)(identity)
    val r = Simple.processAndLabel[Int, Int, Int, Int](it => it.toSeq.sorted.head)((k, m) => k * 1000 + m)
    val expected = steps.localRun(xs, u, a, r)
    val got = DatasetEngine.run(spark.createDataset(xs), u, a, r).collect().toMap
    assert(got == expected)
  }

  test("keyed fold (key-dependent) routes through mapGroups and agrees") {
    val xs = List.fill(200)(rnd.nextInt(100))
    val a = Assign.of[Int, Int, Int](_ % 4)(identity)
    val r = Reduce.KeyedFold[Int, Int, Int](k => Folds.sum[Int].map(_ * (k + 1)))
    val expected = steps.localRun(xs, Unpack.none[Int], a, r)
    val got = DatasetEngine.run(spark.createDataset(xs), Unpack.none[Int], a, r)
      .collect().toMap
    assert(got == expected)
  }

  test("ordered engine output is key-sorted (groupByOrderedKey semantics)") {
    val xs = List.fill(100)(rnd.nextInt(1000))
    val a = Assign.of[Int, Int, Int](_ % 13)(identity)
    val out = DatasetEngine.run(spark.createDataset(xs), Unpack.none[Int], a,
      Reduce.fromFold[Int, Int, Int](Folds.sum[Int]), ordered = true)
      .collect().map(_._1)
    assert(out.toList == out.toList.sorted)
  }

  test("unpackOnly == filter / flatMap directly") {
    val xs = List.fill(100)(rnd.nextInt(100))
    val f = DatasetEngine.unpackOnly(spark.createDataset(xs),
      Unpack.Filter[Int](_ > 50)).collect().sorted
    assert(f.toList == xs.filter(_ > 50).sorted)
    val m = DatasetEngine.unpackOnly(spark.createDataset(xs),
      Unpack.Explode[Int, Int](x => Seq(x, -x))).collect().sorted
    assert(m.toList == xs.flatMap(x => Seq(x, -x)).sorted)
  }

  test("effectful engine (runM) matches pure twin; effects observed") {
    val xs = List.fill(400)(rnd.nextInt(100))
    val acc = spark.sparkContext.longAccumulator("seen")
    val got = DatasetEngine.runM(spark.createDataset(xs),
      UnpackM.FilterM[Int] { x => acc.add(1); x % 2 == 0 },
      AssignM[Int, Int, Long](x => (x % 7, 1L)),
      ReduceM.fromFold[Int, Long, Long](Folds.count[Long]))
      .collect().toMap
    val expected = xs.filter(_ % 2 == 0).groupBy(_ % 7)
      .map { case (k, g) => k -> g.length.toLong }
    assert(got == expected)
    assert(acc.value == xs.length.toLong)
  }

  test("observedCount: retry-exact rows-seen counter through the M-engine") {
    val xs = List.fill(300)(rnd.nextInt(100))
    val (instrumented, seen) =
      DatasetEngine.observedCount(spark.createDataset(xs), "rows_seen_obs")
    val got = DatasetEngine.runM(instrumented,
      UnpackM.FilterM[Int](_ % 2 == 0),
      AssignM[Int, Int, Long](x => (x % 5, 1L)),
      ReduceM.fromFold[Int, Long, Long](Folds.count[Long]))
      .collect().toMap
    val expected = xs.filter(_ % 2 == 0).groupBy(_ % 5)
      .map { case (k, g) => k -> g.length.toLong }
    assert(got == expected)
    // the observation counts input rows reaching the filter, exactly
    // once per action regardless of task retries
    assert(seen() == xs.length.toLong)
  }

  test("mapReduceM is key-sorted; hashableMapReduceM is the same bag (Simple.hs:175-212)") {
    val xs = List.fill(300)(rnd.nextInt(100))
    val u = UnpackM.FilterM[Int](_ % 3 != 0)
    val a = AssignM[Int, Int, Long](x => (x % 11, x.toLong))
    val r = ReduceM.fromFold[Int, Long, Long](Folds.sum[Long])
    val ordered = Simple.mapReduceM(spark.createDataset(xs), u, a, r).collect().toSeq
    assert(ordered.map(_._1) == ordered.map(_._1).sorted, "ordered-key default")
    val bag = Simple.hashableMapReduceM(spark.createDataset(xs), u, a, r).collect().toSeq
    assert(bag.toMap == ordered.toMap)
    val expected = xs.filter(_ % 3 != 0).groupBy(_ % 11)
      .map { case (k, g) => k -> g.map(_.toLong).sum }
    assert(ordered.toMap == expected)
  }

  test("salted two-phase aggregation == plain engine on skewed keys") {
    // 90% of rows share one key — the skew case runSalted exists for
    val xs = List.tabulate(2000)(i => if (i % 10 != 0) 7 else rnd.nextInt(100))
    val a = Assign.of[Int, Int, Double](_ % 11)(_.toDouble)
    val fd = Folds.mean.zip(Folds.count[Double])
    val expected = DatasetEngine.run(spark.createDataset(xs), Unpack.none[Int], a,
      Reduce.fromFold[Int, Double, (Double, Long)](fd)).collect().toMap
    val salted = DatasetEngine.runSalted(spark.createDataset(xs), Unpack.none[Int], a,
      fd, saltBuckets = 8).collect().toMap
    assert(salted.keySet == expected.keySet)
    salted.foreach { case (k, (m, n)) =>
      assert(n == expected(k)._2)
      assert(math.abs(m - expected(k)._1) < 1e-9)
    }
  }

  test("untyped FrameQuery == typed engine (engines as mutual oracles, Test1.hs:38-52)") {
    import graft.engine.FrameQuery
    import org.apache.spark.sql.functions._
    val xs = List.fill(800)((rnd.nextInt(5), rnd.nextInt(1000)))
    val typed = DatasetEngine.run(spark.createDataset(xs),
      Unpack.Filter[(Int, Int)](_._2 % 2 == 0),
      Assign.of[(Int, Int), Int, Long](_._1)(_._2.toLong),
      Reduce.fromFold[Int, Long, Long](Folds.sum[Long])).collect().toMap
    val untyped = FrameQuery.on(spark.createDataset(xs).toDF("k", "v"))
      .filter(col("v") % 2 === 0)
      .assign(col("k"))
      .reduce(sum(col("v")).as("s"))
      .run().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(typed == untyped)
  }

  test("FrameQuery.ordered sorts computed/aliased keys — never a silent skip") {
    import graft.engine.FrameQuery
    import org.apache.spark.sql.functions._
    val df = spark.createDataset(
      List.fill(200)((rnd.nextInt(1000), rnd.nextInt(50)))).toDF("k", "v")
    // computed key under an alias: the old name-string match missed
    // "(k % 7) AS kmod" and silently returned unsorted output
    val got = FrameQuery.on(df)
      .assign((col("k") % 7).as("kmod"))
      .reduce(sum(col("v")).as("s"))
      .ordered.run().collect().map(_.getInt(0)).toSeq
    assert(got == got.sorted, "aliased computed key must be sorted")
    // key renamed away by relabel: sort falls back to the key
    // expression, resolved through the projection
    val renamed = FrameQuery.on(df)
      .assign((col("k") % 7).as("kmod"))
      .reduce(sum(col("v")).as("s"))
      .relabel(col("kmod").as("m"), col("s"))
      .ordered.run().collect().map(_.getInt(0)).toSeq
    assert(renamed == renamed.sorted, "relabeled key must still sort")
  }

  test("concatFold merges per-key results (monoid concat, Simple.hs:156-162)") {
    val xs = List.fill(100)(rnd.nextInt(100))
    val perKey = DatasetEngine.run(spark.createDataset(xs), Unpack.none[Int],
      Assign.of[Int, Int, Int](_ % 3)(identity),
      Reduce.fromFold[Int, Int, Int](Folds.sum[Int]))
    val total = Simple.concatFold(perKey.map(_._2))(_ + _)
    assert(total == xs.sum)
  }

  // ---- the fused PerKeyFold pass: bounded per-partition map ------------
  /** Two partitions of `keysPerPart` keys each (half shared), three
    * rows per key, shuffled within each partition. */
  private def keyedRows(keysPerPart: Int): org.apache.spark.sql.Dataset[(Int, Long)] = {
    val r = new scala.util.Random(keysPerPart)
    val parts = (0 until 2).map { p =>
      r.shuffle((0 until keysPerPart).flatMap { i =>
        val k = p * keysPerPart / 2 + i
        Seq.fill(3)((k, r.nextInt(1000).toLong))
      })
    }
    spark.createDataset(spark.sparkContext.parallelize(parts.flatten, 2))
  }

  private val bound =
    spark.sessionState.conf.objectAggSortBasedFallbackThreshold

  test("fused fold == plain-Scala fold at 1, bound-1, bound, bound+1 and 10k keys per partition") {
    assert(bound == 128, "the pass reads Spark's object-buffer limit (default 128)")
    val filter = Unpack.Filter[(Int, Long)](_._2 % 5 != 0)
    val explode = Unpack.Explode[(Int, Long), (Int, Long)](x => Seq(x, (x._1 + 1, -x._2)))
    val a = Assign.of[(Int, Long), Int, Long](_._1)(_._2)
    val fd = Folds.sum[Long].zip(Folds.count[Long])
    for (n <- Seq(1, bound - 1, bound, bound + 1, 10000); ordered <- Seq(false, true)) {
      val xs = keyedRows(n)
      val local = xs.collect().toSeq
      for ((name, u, ys) <- Seq(("filter", filter, local.filter(filter.p)),
                                ("explode", explode, local.flatMap(explode.f)))) {
        val expected = ys.groupBy(_._1).map { case (k, g) => k -> fd.fold(g.map(_._2)) }
        val got = DatasetEngine.run(xs, u, a, Reduce.fromFold[Int, Long, (Long, Long)](fd),
          ordered = ordered).collect().toSeq
        assert(got.toMap == expected && got.size == expected.size, s"$name n=$n ordered=$ordered")
        if (ordered) assert(got.map(_._1) == got.map(_._1).sorted, s"$name n=$n")
      }
    }
  }

  test("fused fold's map holds at most the bound: later keys pass through row by row") {
    val a = Assign.of[(Int, Long), Int, Long](_._1)(_._2)
    val fd = Folds.sum[Long]
    for (n <- Seq(1, bound - 1, bound, bound + 1, 10000)) {
      // one partition's rows: n keys, three rows each
      val rows = keyedRows(n).rdd.glom().collect().head.toSeq
      val out = DatasetEngine.foldInto(rows.iterator, a, fd, bound).toList
      val keys = rows.map(_._1).distinct
      // the first `bound` keys seen fold in the map; the rest pass through
      val mapped = keys.take(bound).toSet
      assert(out.size == mapped.size + rows.count(r => !mapped(r._1)), s"n=$n")
      assert(out.groupMapReduce(_._1)(_._2)(_ + _) == rows.groupMapReduce(_._1)(_._2)(_ + _))
    }
  }

  test("fused fold with a Kryo buffer == plain-Scala fold past the key bound") {
    // a List buffer has no Catalyst encoder: it crosses the shuffle as Kryo
    val fd = Fold[Long, List[Long], Long](Nil)((s, a) => a :: s)(_ ++ _)(_.sorted.take(2).sum)
    assert(fd.bufEncoder.isEmpty)
    val xs = keyedRows(bound + 1)
    val a = Assign.of[(Int, Long), Int, Long](_._1)(_._2)
    val expected = xs.collect().toSeq.groupBy(_._1).map { case (k, g) => k -> fd.fold(g.map(_._2)) }
    val got = DatasetEngine.run(xs, Unpack.none[(Int, Long)], a,
      Reduce.fromFold[Int, Long, Long](fd)).collect().toMap
    assert(got == expected)
  }

  test("fused fold runs exactly one step per unpacked row") {
    val steps = spark.sparkContext.longAccumulator("fold-steps")
    val fd = Fold[Long, Long, Long](0L) { (s, a) => steps.add(1); s + a }(_ + _)(identity)
    val u = Unpack.Explode[(Int, Long), (Int, Long)](x => Seq.fill((x._2 % 3).toInt)(x))
    val a = Assign.of[(Int, Long), Int, Long](_._1)(_._2)
    for (n <- Seq(bound - 1, bound + 1, 10000)) {
      val xs = keyedRows(n)
      val unpacked = xs.collect().toSeq.flatMap(u.f)
      steps.reset()
      val got = DatasetEngine.run(xs, u, a, Reduce.fromFold[Int, Long, Long](fd)).collect().toMap
      assert(got == unpacked.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum })
      assert(steps.value == unpacked.size.toLong, s"n=$n")
    }
  }
}
