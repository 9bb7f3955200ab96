package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dump` is what the DuckDB compare reads, so a failed query
  * must leave no output behind for the compare to pass on. */
class VerifySpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  test("a failed query removes its stale output dir") {
    val out = Files.createTempDirectory("verify_stale")
    try {
      val stale = out.resolve("q01_group_sum")
      Files.createDirectories(stale)
      Files.writeString(stale.resolve("part-00000.parquet"), "stale")
      val missing = out.resolve("no_such_sf").toString
      val failed = Verify.dump(spark, missing, out.toString, Seq("q01_group_sum"))
      assert(failed == Seq("q01_group_sum"))
      assert(!Files.exists(stale), "stale output survived a failed query")
      val oracle = Files.readString(out.resolve("oracle_sql.json"))
      assert(oracle.startsWith("{\"q01_group_sum\": "))
      // the failure is durable: the query and its exception message
      val status = Files.readString(out.resolve("verify_status.json"))
      assert(status.startsWith("{\"q01_group_sum\": \""), status)
      assert(status.contains("no_such_sf"), status)
    } finally sources.Tables.deleteRec(out)
  }

  test("a clean run records no failures, replacing an earlier status") {
    val out = Files.createTempDirectory("verify_clean")
    try {
      Files.writeString(out.resolve("verify_status.json"),
        "{\"q01_group_sum\": \"stale\"}")
      val failed = Verify.dump(spark, "/root/testdata/sf0.001", out.toString,
        Seq("q01_group_sum"))
      assert(failed.isEmpty)
      assert(Files.readString(out.resolve("verify_status.json")) == "{}")
    } finally sources.Tables.deleteRec(out)
  }

  test("query names outside SparkEntry.queries are rejected") {
    val out = Paths.get(System.getProperty("java.io.tmpdir"), "verify_unknown")
    val e = intercept[IllegalArgumentException](
      Verify.dump(spark, "unused", out.toString, Seq("q01_group_sum", "q999_nope")))
    assert(e.getMessage.contains("q999_nope"))
    assert(!Files.exists(out), "rejection must come before any output")
  }
}
