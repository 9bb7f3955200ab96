package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver smoke-checks `SparkEntry.entry` on a vanilla session:
  * none of graft's SQL confs set. */
class EntrySpec extends AnyFunSuite {
  test("SparkEntry.entry returns rows on a session without graft's SQL confs") {
    val vanilla = SparkTestBase.spark.newSession()
    Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
      .foreach(vanilla.conf.unset)
    assert(SparkEntry.entry(vanilla).count() > 0)
  }
}
