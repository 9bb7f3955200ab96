package graft

import graft.functions.ColFns
import graft.ext.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Column-function semantics vs plain-Scala reference implementations
  * (shingles, md5-derived hashes, fingerprints) — these are the
  * primitives the DuckDB oracles replicate, so they must be exactly
  * the functions we think they are. */
class ColFnsSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def h60Ref(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).take(15), 16)

  test("h60 = first 15 md5 hex chars as int64") {
    val ss = Seq("hello", "world foo", "", "zh 的 text")
    val got = ss.toDF("s").select(ColFns.h60(col("s"))).as[Long].collect()
    assert(got.toSeq == ss.map(h60Ref))
  }

  test("tokens drops empties, lowercases") {
    val got = Seq("Foo  BAR  baz ").toDF("s")
      .select(ColFns.tokens(col("s"))).as[Seq[String]].collect().head
    assert(got == Seq("foo", "bar", "baz"))
  }

  test("wordShingles n=3") {
    val got = Seq("a b c d e", "a b").toDF("s")
      .select(ColFns.wordShingles(ColFns.tokens(col("s")), 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq.empty)
  }

  test("charShingles n=5") {
    val got = Seq("abcdefg", "abc").toDF("s")
      .select(ColFns.charShingles(col("s"), 5)).as[Seq[String]].collect()
    assert(got(0) == Seq("abcde", "bcdef", "cdefg"))
    assert(got(1) == Seq.empty)
  }

  test("minhash matches scala reference for each permutation") {
    def minhashRef(shingles: Seq[String], i: Int): Long =
      shingles.map { s =>
        (ColFns.MinhashA(i) * (h60Ref(s) % ColFns.MinhashP) + ColFns.MinhashB(i)) % ColFns.MinhashP
      }.min
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val shingles = {
      val t = text.split(" ").toSeq
      t.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }
    val row = Seq(text).toDF("text")
      .select(ColFns.minhashCols(array_distinct(
        ColFns.wordShingles(ColFns.tokens(col("text")), 3))): _*)
      .collect().head
    (0 until ColFns.MinhashA.size).foreach { i =>
      assert(row.getLong(i) == minhashRef(shingles, i), s"perm $i")
    }
  }

  test("fingerprint = polynomial rolling hash over token h60s") {
    def fpRef(text: String): Long =
      text.toLowerCase.split(" ").filter(_.nonEmpty)
        .map(t => h60Ref(t) % ColFns.FpMod)
        .foldLeft(0L)((acc, x) => (acc * ColFns.FpBase + x) % ColFns.FpMod)
    val ss = Seq("one two three", "a", "x y z w", "")
    val got = ss.toDF("text").select(ColFns.fingerprint(ColFns.tokens(col("text"))))
      .as[Long].collect()
    assert(got.toSeq == ss.map(fpRef))
  }

  test("dotD is a strict left-to-right double dot product") {
    val a = Seq(0.1f, 0.2f, 0.3f)
    val b = Seq(0.4f, 0.5f, 0.6f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(ColFns.dotD(ColFns.vecD(col("a")), ColFns.vecD(col("b"))))
      .as[Double].collect().head
    val exp = a.map(_.toDouble).zip(b.map(_.toDouble))
      .foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    assert(got == exp) // exact: same op order
  }

  test("exact dedup keeps min-tiebreak row per key") {
    val df = Seq((3L, "a", "x"), (1L, "a", "y"), (2L, "b", "z"))
      .toDF("id", "k", "payload")
    val out = Dedup.exact(df, Seq("k"), "id")
      .orderBy("k").as[(Long, String, String)].collect().toSeq
    assert(out == Seq((1L, "a", "y"), (2L, "b", "z")))
  }

  test("simhash identical docs get identical hashes; disjoint docs differ") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val out = Dedup.simhash(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(out(0)._2 == out(1)._2 && out(0)._3 == out(1)._3)
    assert(out(0)._2 != out(2)._2 || out(0)._3 != out(2)._3)
    assert(out.forall(r => r._2 >= 0 && r._3 >= 0))
  }

  test("langId picks the stopword-argmax language") {
    val df = Seq("the cat is in the hat and the dog",
      "el perro y el gato de la casa y los árboles",
      "der hund und die katze ist nicht mit").toDF("text")
    val got = df.select(TextOps.langIdCol(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de"))
  }

  test("dedupChunksCol drops repeated chunks, keeps first occurrence in order") {
    val df = Seq(
      // chunks (width 2): "a b" | "c d" | "a b" | "e" → drop 3rd
      "a b c d a b e",
      // all distinct → unchanged
      "a b c d e f",
      // same chunk thrice → one survives
      "x y x y x y",
      // trailing short chunk duplicates nothing ("a" ≠ "a b")
      "a b a",
      "").toDF("text")
    val got = df
      .select(TextOps.tokenChunks(graft.functions.ColFns.tokens(col("text")), 2)
        .as("ch"))
      .select(TextOps.dedupChunks(col("ch")), TextOps.droppedChunkCount(col("ch")))
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(
      ("a b c d e", 1L),
      ("a b c d e f", 0L),
      ("x y", 2L),
      ("a b a", 0L),
      ("", 0L)))
  }

  // ---- money sums: the native MoneySum vs the composed decimal form -----
  private def composedMoney(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  private val moneySchema = StructType(Seq(
    StructField("g", IntegerType), StructField("x", DoubleType)))

  /** Run `body` with whole-stage codegen and the codegen factories on
    * or off (off: every expression is `eval`-interpreted). */
  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body finally keys.zip(old).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", old)
  }

  private def moneyFrame(rows: Seq[(Int, java.lang.Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (g, x) => Row(g, x) }, 3), moneySchema)

  private def sameDouble(r: Row, i: Int, j: Int): Boolean =
    if (r.isNullAt(i) || r.isNullAt(j)) r.isNullAt(i) && r.isNullAt(j)
    else java.lang.Double.doubleToLongBits(r.getDouble(i)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(j))

  /** Groups whose native and composed sums differ, codegen'd and
    * interpreted; the columns are built inside each mode so their
    * eval mode is the session's. */
  private def moneyDiffs(rows: Seq[(Int, java.lang.Double)]): Seq[String] = {
    val df = moneyFrame(rows)
    Seq(true, false).flatMap { on =>
      withCodegen(on) {
        df.groupBy("g")
          .agg(ColFns.sumMoney(col("x")).as("n"), composedMoney(col("x")).as("c"),
            ColFns.avgMoney(col("x")).as("na"), (composedMoney(col("x")) / count(col("x"))).as("ca"))
          .collect().toSeq
          .filterNot(r => sameDouble(r, 1, 2) && sameDouble(r, 3, 4))
          .map(r => s"codegen=$on g=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}, avg ${r.get(3)} vs ${r.get(4)}")
      }
    }
  }

  private def checkMoney(rows: Gen[Seq[(Int, java.lang.Double)]], runs: Int): Unit = {
    val prop = Prop.forAll(rows) { rs =>
      val d = moneyDiffs(rs)
      d.isEmpty :| d.mkString("; ")
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(res.passed, res.status.toString)
  }

  /** A 2-decimal value of magnitude below 10^e, as the nearest double. */
  private val twoDecimal: Gen[Double] = for {
    e <- Gen.choose(0, 16)
    n <- Gen.choose(0L, math.pow(10, e + 2).toLong - 1)
    neg <- Gen.oneOf(true, false)
  } yield BigDecimal(if (neg) -n else n, 2).toDouble

  /** Finite doubles the cast accepts: random bit patterns (subnormals
    * included), ties at the third decimal, and values a few ulps from
    * 2^44 and its 2-decimal neighbours. */
  private val anyDouble: Gen[Double] = {
    val limit = 1e16
    val bits = Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)
      .suchThat(x => !x.isNaN && math.abs(x) < limit)
    val ties = Gen.oneOf(1.005, 2.675, -2.675, 0.125, -0.125, 0.1 + 0.2, 1.7e13 + 0.07,
      9.99e15, -0.0, 0.0, 0.015, 1.115, Double.MinPositiveValue, -4.9e-320)
    val near44 = for {
      base <- Gen.oneOf(FastLimit, FastLimit - 0.01, FastLimit + 0.01, FastLimit / 2 + 0.05)
      k <- Gen.choose(-3, 3)
      neg <- Gen.oneOf(true, false)
    } yield {
      var x = base
      if (k > 0) (1 to k).foreach(_ => x = Math.nextUp(x))
      else (1 to -k).foreach(_ => x = Math.nextDown(x))
      if (neg) -x else x
    }
    val scaled = for { u <- Gen.choose(-1.0, 1.0); e <- Gen.choose(-6, 15) } yield u * math.pow(10, e)
    Gen.frequency(3 -> bits, 3 -> ties, 3 -> near44, 3 -> scaled, 2 -> twoDecimal)
  }
  private val FastLimit = 17592186044416.0 // 2^44

  private def groupedRows(x: Gen[Double], size: Int): Gen[Seq[(Int, java.lang.Double)]] =
    Gen.listOfN(size, Gen.zip(Gen.choose(0, 3),
      Gen.frequency(1 -> Gen.const(null: java.lang.Double), 9 -> x.map(Double.box))))

  test("sumMoney == sum(cast(x as decimal(18,2))) over 2-decimal doubles up to 1e16 (scalacheck)") {
    checkMoney(groupedRows(twoDecimal, 40), 20)
  }

  test("sumMoney == the composed form over arbitrary doubles: ties, subnormals, 2^44 ± ulps (scalacheck)") {
    checkMoney(groupedRows(anyDouble, 40), 20)
  }

  test("sumMoney stays exact above 2^53 and 2^63 cents, through partial-buffer carries") {
    val big = Seq.fill(40)(9e15)
    val rows: Seq[(Int, java.lang.Double)] =
      big.map(x => (0, Double.box(x))) ++ big.map(x => (1, Double.box(-x))) ++
      // up past 2^63 cents and back down: the carry count returns to 0
      (big ++ big.map(x => -x) ++ Seq.fill(40)(0.01)).map(x => (2, Double.box(x))) ++
      Seq.fill(200)((3, Double.box(1.7e13 + 0.07))) ++
      Seq.fill(30)((4, Double.box(9999999999999998.0))) ++
      Seq.fill(30)((5, Double.box(123456789012.34)))
    assert(moneyDiffs(rows).isEmpty, moneyDiffs(rows))
    val got = moneyFrame(rows).groupBy("g").agg(ColFns.sumMoney(col("x")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(0) == 3.6e17 && got(1) == -3.6e17 && got(2) == 0.4)
  }

  test("sumMoney: null rows skipped; all-null and empty groups give null; -0.0 sums to 0.0") {
    val rows: Seq[(Int, java.lang.Double)] = Seq((0, null), (0, null), (1, -0.0), (1, null),
      (2, -0.0), (2, 0.0), (3, 1.25), (3, null))
    assert(moneyDiffs(rows).isEmpty, moneyDiffs(rows))
    val got = moneyFrame(rows).groupBy("g").agg(ColFns.sumMoney(col("x")))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(got == Map(0 -> None, 1 -> Some(0.0), 2 -> Some(0.0), 3 -> Some(1.25)))
    val empty = moneyFrame(rows).filter(lit(false))
      .agg(ColFns.sumMoney(col("x")), composedMoney(col("x")), ColFns.avgMoney(col("x")))
      .collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("sumMoney: NaN, ±Inf and |x| >= 1e16 fail or null exactly as the composed form, ANSI on and off") {
    /** The error condition a query raises, or its per-group sums. */
    def outcome(df: DataFrame, agg: Column): Either[String, Seq[Option[Double]]] =
      try Right(df.groupBy("g").agg(agg).collect().sortBy(_.getInt(0)).toSeq
        .map(r => Option(r.get(1)).map(_.asInstanceOf[Double])))
      catch {
        case e: Throwable =>
          Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case t: org.apache.spark.SparkThrowable if t.getCondition != null =>
              t.getCondition }
            .getOrElse(throw e))
      }
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e16, -1e16, 1.5e300);
         on <- Seq(true, false); ansi <- Seq(true, false)) withCodegen(on) {
      val df = moneyFrame(Seq((0, 1.5), (0, v), (1, v)))
      withAnsi(ansi) {
        val native = outcome(df, ColFns.sumMoney(col("x")))
        assert(native == outcome(df, composedMoney(col("x"))), s"$v codegen=$on ansi=$ansi")
        // legacy mode: the failed cast is a null the sum skips
        if (!ansi) assert(native == Right(Seq(Some(1.5), None)), s"$v codegen=$on")
        // out-of-range values fail the cast under ANSI
        if (ansi && !v.isNaN && !v.isInfinite) assert(native.isLeft, s"$v codegen=$on")
      }
    }
  }

  test("sumMoney keeps the composed form's type and nullability") {
    val q = moneyFrame(Seq((0, 1.0))).groupBy("g")
      .agg(ColFns.sumMoney(col("x")).as("native"), composedMoney(col("x")).as("composed"))
    assert(q.schema("native").copy(name = "composed") == q.schema("composed"), q.schema)
  }

  test("sumMoney runs inside whole-stage codegen with a fixed-width buffer (no fallback)") {
    val q = spark.range(1000).select((col("id") % 7).as("g"), (col("id") / 100.0).as("x"))
      .groupBy("g").agg(ColFns.sumMoney(col("x")).as("s"))
    q.collect()
    val plan = q.queryExecution.executedPlan
    val p = plan.toString.split("== Initial Plan ==").head
    // "*(n)" marks a whole-stage codegen stage: both aggregates are in one
    assert("""\*\(\d+\) HashAggregate\(keys=\[g#\d+L\], functions=\[partial_graft_money_sum""".r
      .findFirstIn(p).isDefined, p)
    assert("""\*\(\d+\) HashAggregate\(keys=\[g#\d+L\], functions=\[graft_money_sum""".r
      .findFirstIn(p).isDefined, p)
    // compiled calls into the result kernel, not an interpreted fallback
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(code.contains("graft.functions.cat.MoneySum.total("), code)
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"), p)
  }
}
