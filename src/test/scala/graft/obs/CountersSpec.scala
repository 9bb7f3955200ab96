package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class CountersSpec extends AnyFunSuite {
  private val spark = graft.SparkTestBase.spark
  private val sc = spark.sparkContext

  test("a window bills only its body's jobs while a prior job's events are still queued") {
    // a listener that holds the bus on the first prior job's start: the
    // second prior job's events queue behind it, undelivered when the
    // window opens.  The window's drain waits them out; a listener
    // registered without it would be handed the second job's start
    val entered, release = new CountDownLatch(1)
    val hold = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (entered.getCount > 0) { entered.countDown(); release.await(30, TimeUnit.SECONDS) }
    }
    sc.addSparkListener(hold)
    try {
      sc.parallelize(1 to 10).count()
      sc.parallelize(1 to 10).count()
      assert(entered.await(30, TimeUnit.SECONDS), "the bus never reached the held listener")
      new Thread(() => { Thread.sleep(300); release.countDown() }).start()
      val (_, c) = Counters.of(spark)(sc.parallelize(1 to 10, 3).count())
      assert(c.jobs == 1 && c.stages == 1, s"a one-job body was billed $c")
    } finally {
      release.countDown()
      sc.removeSparkListener(hold)
    }
  }

  test("cut() readings sum to the window's total") {
    val w = Counters.open(spark)
    val (a, b, c, total) = try {
      sc.parallelize(1 to 10).count()
      val a = w.cut()
      sc.parallelize(1 to 10).count(); sc.parallelize(1 to 10).count()
      val b = w.cut()
      spark.range(1000).groupBy(col("id") % 7).count().collect()
      val c = w.cut()
      (a, b, c, w.read())
    } finally w.close()
    assert(a.jobs == 1 && b.jobs == 2, s"cuts: $a, $b")
    assert(c.jobs >= 1 && c.shuffleWriteBytes > 0, s"third cut: $c")
    assert(total - a - b - c == Counts.zero, s"cuts $a + $b + $c vs total $total")
  }

  test("every listener in src/main and src/test is registered under graft/obs") {
    // one collector: a hand-rolled job/stage listener elsewhere would
    // re-implement the window (and its drains) this package owns
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(sources.exists(_.toString.endsWith("obs/Counters.scala")), "run from the repo root")
    val offenders = sources
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("addSparkListener"))
      .map(_.toString)
      .filterNot(_.contains("/graft/obs/"))
    assert(offenders.isEmpty, s"addSparkListener outside graft/obs: ${offenders.mkString(", ")}")
  }
}
