package graft

import graft.functions.ColFns
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression semantics: each kernel
  * ([[graft.functions.cat.DotProductD]], the md5 slices, the minhash
  * signature, the word/char shingle kernels) must be value-identical to
  * the higher-order-function formulation it replaces (the DuckDB
  * oracles were validated against that shape).
  *
  * The spec runs on its own extension-free session: under
  * `GraftExtensions`, `DotProductRewrite` turns the HOF reference into
  * the native expression, and the comparisons would check native
  * against native. */
class NativeExprSpec extends AnyFunSuite {
  private val spark =
    org.apache.spark.sql.graftshim.TestSessions.withoutExtensions(SparkTestBase.spark)
  import spark.implicits._

  private def hofDot(a: Column, b: Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("the spec's session is extension-free: the HOF dot stays a HOF") {
    def plan(s: org.apache.spark.sql.SparkSession) =
      s.range(3).select(array(col("id").cast("double")).as("a"))
        .select(hofDot(col("a"), col("a"))).queryExecution.optimizedPlan.toString
    assert(!plan(spark).contains("graft_dot"), plan(spark))
    assert(plan(SparkTestBase.spark).contains("graft_dot"), plan(SparkTestBase.spark))
  }

  test("native dot == interpreted HOF dot, bit-for-bit, random vectors") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(500) {
      (Seq.fill(64)(rnd.nextDouble() * 2 - 1), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      ColFns.dotD(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).as[(Double, Double)].collect()
    got.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("null array propagates null; empty arrays give 0.0") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double]))).toDF("a", "b")
    val got = df.select(ColFns.dotD(col("a"), col("b"))).collect()
    assert(got(0).isNullAt(0))
    assert(got(1).getDouble(0) == 0.0)
  }

  test("length mismatch / null elements: native matches HOF exactly (null)") {
    val df = Seq(
      (Seq(Option(1.0), Option(2.0), Option(3.0)), Seq(Option(1.0), Option(2.0))),
      (Seq(Option(1.0), None, Option(3.0)), Seq(Option(1.0), Option(2.0), Option(3.0))),
      (Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option(4.0))))
      .toDF("a", "b")
    val got = df.select(ColFns.dotD(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).collect()
    got.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1)))
    assert(got(0).isNullAt(0)) // ragged → null, like zip_with null-padding
    assert(got(1).isNullAt(0)) // null element → null
    assert(got(2).getDouble(0) == 11.0)
  }

  test("sortedIntersectCount == size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(5)
    def randSet() = Seq.fill(rnd.nextInt(40))(s"g${rnd.nextInt(60)}")
      .distinct.sorted
    val rows = Seq.fill(300)((randSet(), randSet())) ++ Seq(
      (Seq.empty[String], Seq("a")), (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b")))
    val df = rows.toDF("a", "b")
    val got = df.select(
      ColFns.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
      .as[(Int, Int)].collect()
    got.foreach { case (f, r) => assert(f == r) }
    // codegen'd longs too, not just strings
    val dl = Seq((Seq(1L, 3L, 7L, 9L), Seq(2L, 3L, 9L, 11L))).toDF("a", "b")
    assert(dl.select(ColFns.sortedIntersectCount(col("a"), col("b")))
      .collect().head.getInt(0) == 2)
  }

  test("h60/h32 native md5 slices == conv(substring(md5)) bit-for-bit") {
    val rnd = new scala.util.Random(9)
    val strs = Seq.fill(400)(rnd.alphanumeric.take(rnd.nextInt(20)).mkString) ++
      Seq("", " ", "héllo wörld", "日本語テキスト", "a b c")
    val df = strs.toDF("s")
    def ref(start: Int, len: Int) =
      conv(substring(md5(col("s")), start, len), 16, 10).cast("long")
    val got = df.select(
      ColFns.h60(col("s")).as("h60"), ref(1, 15).as("h60r"),
      ColFns.h32hi(col("s")).as("hi"), ref(1, 8).as("hir"),
      ColFns.h32lo(col("s")).as("lo"), ref(9, 8).as("lor"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    got.foreach { case (a, ar, b, br, c, cr) =>
      assert(a == ar && b == br && c == cr)
    }
  }

  test("graft_dot registers as a SQL function via GraftExtensions") {
    import org.apache.spark.sql.SparkSession
    // extensions apply at session build time; build a fresh session on
    // the shared SparkContext, then restore the default
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      val r = withExt.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .collect().head.getDouble(0)
      assert(r == 32.0)
      val ic = withExt.sql(
        "SELECT graft_sorted_intersect_count(array('a','b','d'), array('b','c','d')) AS c")
        .collect().head.getInt(0)
      assert(ic == 2)
      val hs = withExt.sql(
        "SELECT graft_md5_slice('x', 1, 15) AS h, conv(substring(md5('x'),1,15),16,10) AS r")
        .collect().head
      assert(hs.getLong(0) == hs.getString(1).toLong)
    } finally {
      SparkSession.setDefaultSession(SparkTestBase.spark)
      SparkSession.setActiveSession(SparkTestBase.spark)
    }
  }

  test("optimizer rule rewrites HOF dot into graft_dot on extension sessions") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      import s.implicits._
      val df = s.range(50)
        .select(array(col("id").cast("double"), (col("id") * 2).cast("double")).as("a"))
      val q = df.select(hofDot(col("a"), col("a")).as("d"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_dot"), optimized)
      // and the rewritten plan computes the right value
      val expect = (0 until 50).map { i =>
        val a = Seq(i.toDouble, i * 2.0); a.map(x => x * x).sum
      }.sum
      assert(q.agg(sum(col("d"))).as[Double].collect().head == expect)
    } finally {
      SparkSession.setDefaultSession(SparkTestBase.spark)
      SparkSession.setActiveSession(SparkTestBase.spark)
    }
  }

  test("minhashSigArray == composed array_min(transform) per permutation") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(300)(
      Seq.fill(rnd.nextInt(50) + 1)(math.abs(rnd.nextLong()) % ColFns.MinhashP)) ++
      Seq(Seq(0L), Seq(ColFns.MinhashP - 1))
    val df = rows.toDF("hs")
    val composed = ColFns.MinhashA.zip(ColFns.MinhashB).zipWithIndex.map {
      case ((a, b), i) =>
        array_min(transform(col("hs"),
          h => (lit(a) * h + lit(b)) % ColFns.MinhashP)).as(s"c$i")
    }
    val sig = df.select(col("hs"), ColFns.minhashSigArray(col("hs")).as("sig"))
      .select(Seq(col("sig")) ++ composed: _*).collect()
    sig.foreach { r =>
      val native = r.getSeq[Long](0)
      assert(native.length == ColFns.MinhashA.size)
      ColFns.MinhashA.indices.foreach(i =>
        assert(native(i) == r.getLong(i + 1), s"perm $i"))
    }
  }

  test("minhashSigArray: empty array → null (array_min-on-empty parity), null → null") {
    val df = Seq(Some(Seq.empty[Long]), None, Some(Seq(7L)))
      .toDF("hs")
    val got = df.select(ColFns.minhashSigArray(col("hs"))).collect()
    assert(got(0).isNullAt(0))
    assert(got(1).isNullAt(0))
    assert(!got(2).isNullAt(0))
  }

  test("minhashSigArray matches a pure-Scala model (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    def model(hs: Seq[Long]): Seq[Long] =
      ColFns.MinhashA.zip(ColFns.MinhashB).map { case (a, b) =>
        hs.map(h => (a * h + b) % ColFns.MinhashP).min
      }
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, ColFns.MinhashP - 1))
    val prop = Prop.forAll(gen) { hs =>
      val got = Seq(Tuple1(hs)).toDF("hs")
        .select(ColFns.minhashSigArray(col("hs"))).collect()
        .head.getSeq[Long](0)
      got == model(hs)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("minhash signature runs inside whole-stage codegen (no fallback)") {
    val df = spark.range(100)
      .select(array(col("id"), col("id") * 3 % 997).as("hs"))
    val q = df.select(ColFns.minhashSigArray(col("hs")).as("sig"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_minhash_sig"), plan)
    assert(q.count() == 100)
  }

  test("dot runs inside whole-stage codegen (no fallback)") {
    // non-literal input (literals constant-fold to a LocalTableScan)
    val df = spark.range(100)
      .select(array(col("id").cast("double"), (col("id") + 1).cast("double")).as("a"))
    val q = df.select(ColFns.dotD(col("a"), col("a")).as("d"))
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in plan strings
    assert(plan.contains("*(1) Project [graft_dot"), plan)
    assert(q.agg(sum(col("d"))).collect().head.getDouble(0) > 0)
  }
  // ---- shingle kernels vs the composed forms they replaced --------------
  private def composedWordShingles(toks: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(size(toks) - (n - 1), lit(0)))
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  private def composedCharShingles(text: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(length(text) - (n - 1), lit(0)))
    val grams = transform(idx, i => substr(text, i, lit(n)))
    when(length(text) >= n, grams).otherwise(array().cast("array<string>"))
  }

  private val shingleSchema = StructType(Seq(
    StructField("s", StringType), StructField("t", ArrayType(StringType))))

  /** The same rows as an executor-side (codegen'd) frame and as a
    * driver-local one (interpreted `eval`). */
  private def shingleFrames(rows: Seq[Row]): Seq[DataFrame] = Seq(
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), shingleSchema),
    spark.createDataFrame(rows.asJava, shingleSchema))

  test("shingle kernels evaluate their input once per row") {
    val acc = spark.sparkContext.longAccumulator("shingle-input-calls")
    val countedToks = udf { (s: String) => acc.add(1); s.split(" ").toSeq }
    val countedText = udf { (s: String) => acc.add(1); s }
    val docs = shingleFrames(Seq.tabulate(20) { i =>
      Row((0 until 10 + i).map(j => s"w${i * j % 7}").mkString(" "), null)
    }).head
    def calls(c: Column): Long = { acc.reset(); docs.select(c).collect(); acc.value }
    assert(calls(ColFns.wordShingles(countedToks(col("s")), 3)) == 20)
    assert(calls(ColFns.charShingles(countedText(col("s")), 5)) == 20)
    // the measurement sees the hazard: the composed forms called the
    // input about W·n (word) and L (char) times per row
    assert(calls(composedWordShingles(countedToks(col("s")), 3)) > 20 * 10 * 3)
    assert(calls(composedCharShingles(countedText(col("s")), 5)) > 20 * 10)
  }

  test("a projected column referenced once inside a lambda is inlined back") {
    // why ColFns' lambda-capture rule asks for two references: the
    // optimizer collapses a projection whose column the next one reads
    // once, lambda or not, and the lambda then re-runs the producer
    val acc = spark.sparkContext.longAccumulator("projected-input-calls")
    val counted = udf { (s: String) => acc.add(1); s.split(" ").toSeq }
    val docs = shingleFrames(Seq.fill(10)(Row("a b c d", null))).head
      .select(counted(col("s")).as("toks"))
    def calls(df: DataFrame): Long = { acc.reset(); df.collect(); acc.value }
    val pick = (toks: Column) => transform(sequence(lit(1), lit(3)), i => element_at(toks, i))
    assert(calls(docs.select(pick(col("toks")))) == 30)
    assert(calls(docs.select(pick(col("toks")), size(col("toks")))) == 10)
  }

  test("shingle kernels == composed forms over random Unicode text and token arrays (scalacheck)") {
    import org.scalacheck.{Gen, Prop}
    // ASCII letters, spaces, 2-byte Latin-1, 3-byte CJK and 4-byte
    // supplementary code points (surrogate pairs in a Java String)
    val codePoint = Gen.frequency(5 -> Gen.choose(0x61, 0x7a), 2 -> Gen.const(0x20),
      2 -> Gen.choose(0xe0, 0xff), 2 -> Gen.choose(0x4e00, 0x4e20),
      2 -> Gen.choose(0x1f600, 0x1f640))
    val str = Gen.choose(0, 12).flatMap(Gen.listOfN(_, codePoint))
      .map(cps => new String(cps.toArray, 0, cps.size))
    val text = Gen.frequency(1 -> Gen.const(null), 9 -> str)
    val token = Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""), 6 -> str)
    val tokens = Gen.frequency(1 -> Gen.const(null),
      9 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, token)))
    val rows = Gen.listOfN(40, Gen.zip(text, tokens)).map(_.map { case (s, t) => Row(s, t) })
    val prop = Prop.forAll(rows, Gen.choose(1, 5)) { (rs, n) =>
      shingleFrames(rs).forall { df =>
        df.select(
          ColFns.wordShingles(col("t"), n), composedWordShingles(col("t"), n),
          ColFns.charShingles(col("s"), n), composedCharShingles(col("s"), n))
          .collect().forall(r => r.getSeq(0) == r.getSeq(1) && r.getSeq(2) == r.getSeq(3))
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
    // the hand-picked edges: empty, shorter than n, exactly n,
    // surrogate pairs, all-null and empty-string tokens
    val edges = Seq(Row("", Seq()), Row("ab", Seq("a", "b")), Row("abc", Seq("a", "b", "c")),
      Row("a\ud83d\ude00b\ud83d\ude01c", Seq(null, null, null)), Row("日本語", Seq("", "", "x", null)))
    shingleFrames(edges).foreach { df =>
      val got = df.select(ColFns.wordShingles(col("t"), 3), ColFns.charShingles(col("s"), 3))
        .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
      assert(got == Seq((Seq(), Seq()), (Seq(), Seq()), (Seq("a b c"), Seq("abc")),
        (Seq(""), Seq("a\ud83d\ude00b", "\ud83d\ude00b\ud83d\ude01", "b\ud83d\ude01c")),
        (Seq("  x", " x"), Seq("日本語"))))
    }
  }

  test("shingle kernels keep the composed forms' type and nullability") {
    val df = shingleFrames(Seq(Row("a b", Seq("a")))).head
      .select(col("s"), col("t"), coalesce(col("s"), lit("")).as("s1"))
    Seq("s", "s1").foreach { c =>
      val q = df.select(ColFns.charShingles(col(c), 2).as("native"),
        composedCharShingles(col(c), 2).as("composed"))
      assert(q.schema("native").copy(name = "composed") == q.schema("composed"), q.schema)
    }
    val q = df.select(ColFns.wordShingles(col("t"), 2).as("native"),
      composedWordShingles(col("t"), 2).as("composed"))
    assert(q.schema("native").copy(name = "composed") == q.schema("composed"), q.schema)
  }

  test("shingle kernels run inside whole-stage codegen (no fallback)") {
    val df = spark.range(100)
      .select(concat_ws(" ", col("id").cast("string"), lit("x y z")).as("s"))
    val q = df.select(ColFns.wordShingles(split(col("s"), " "), 2).as("w"),
      ColFns.charShingles(col("s"), 3).as("c"))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("*(1) Project [graft_word_shingles"), plan)
    // compiled calls into the kernels, not an interpreted fallback
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(code.contains("graft.functions.cat.WordShingles.compute("), code)
    assert(code.contains("graft.functions.cat.CharShingles.compute("), code)
    assert(q.count() == 100)
  }
}
