package graft

import graft.sources.TxLog
import graft.streaming.StreamingAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TxLog reads take the schema each commit recorded beside its staged
  * data instead of running a parquet schema-inference job per read.
  * The recorded schema must be exactly the one inference would give,
  * on every log the curation sink writes, and a log staged without a
  * recorded schema must still read (by inference). */
class TxLogSchemaSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  /** Spark jobs `body` submits. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (r, c) = graft.obs.Counters.of(spark)(body)
    (r, c.jobs.toInt)
  }

  /** The schema parquet inference reports for `dirs`. */
  private def inferred(dirs: Seq[String]) = spark.read.parquet(dirs: _*).schema

  private def stagedDir(dir: String, batchId: Long): String = {
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_commits", batchId.toString)), "UTF-8").trim
    s"$dir/_staged/$body"
  }

  test("every curation log reads back with exactly the inferred schema, job-free") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(col("doc_id") < 250)
    val scoreOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
    val base = java.nio.file.Files.createTempDirectory("txschema").toString
    val name = "txschema_idx"
    Dedup.writeLshIndex(docs.where(lit(false)), "doc_id", "text", name)
    try {
      for ((k, b) <- Seq(1L -> docs.where(col("doc_id") < 125),
          2L -> docs.where(col("doc_id") >= 125)))
        StreamingAgg.curationStep(b, k, "doc_id", "text", scoreOf, "q",
          name, s"$base/pairs", s"$base/assign", s"$base/surv",
          emitDir = Some(s"$base/emit"), minJaccard = 0.5)
      for (log <- Seq("pairs", "assign", "surv", "emit")) {
        val dir = s"$base/$log"
        val (all, jobs) = jobsOf(TxLog.readCommitted(spark, dir).schema)
        assert(all == inferred(TxLog.committedDirs(spark, dir)), s"$log log")
        assert(jobs == 0, s"$log: readCommitted ran $jobs jobs to resolve its schema")
        for (k <- Seq(1L, 2L)) {
          val (one, bJobs) = jobsOf(TxLog.readBatch(spark, dir, k).schema)
          assert(one == inferred(Seq(stagedDir(dir, k))), s"$log batch $k")
          assert(bJobs == 0, s"$log batch $k: readBatch ran $bJobs jobs")
        }
      }
    } finally Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches")
      .foreach(graft.sources.Tables.dropWithLocation(spark, _))
  }

  test("nested, non-nullable and decimal columns record the schema inference reports") {
    val dir = java.nio.file.Files.createTempDirectory("txschema_types").toString
    val df = spark.range(3).select(
      col("id"),
      (col("id") * 2).cast("int").as("i"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("x"), lit("s").as("y")).as("st"),
      map(lit("k"), col("id")).as("m"),
      lit(java.math.BigDecimal.valueOf(1.25)).cast("decimal(18,2)").as("d"),
      current_timestamp().as("ts"))
    assert(!df.schema("id").nullable, "fixture: the frame must carry non-nullable fields")
    assert(TxLog.commitBatch(df, dir, 0L))
    assert(TxLog.readBatch(spark, dir, 0L).schema == inferred(Seq(stagedDir(dir, 0L))))
    assert(TxLog.readCommitted(spark, dir).schema == inferred(TxLog.committedDirs(spark, dir)))
    assert(TxLog.readCommitted(spark, dir).count() == 3)
  }

  test("a log committed without a recorded schema reads by inference") {
    val dir = java.nio.file.Files.createTempDirectory("txschema_legacy").toString
    assert(TxLog.commitBatch(Seq((1L, "a")).toDF("id", "v"), dir, 0L))
    assert(TxLog.commitBatch(Seq((2L, "b")).toDF("id", "v"), dir, 1L))
    // batch 0 as an older writer left it: no sidecar
    assert(new java.io.File(stagedDir(dir, 0L), "_schema").delete())
    val (one, oneJobs) = jobsOf(TxLog.readBatch(spark, dir, 0L).schema)
    assert(one == inferred(Seq(stagedDir(dir, 0L))))
    assert(oneJobs >= 1, "an unrecorded batch must fall back to inference")
    // a log mixing recorded and unrecorded dirs infers over all of them
    val (all, allJobs) = jobsOf(TxLog.readCommitted(spark, dir).schema)
    assert(all == inferred(TxLog.committedDirs(spark, dir)))
    assert(allJobs >= 1)
    assert(TxLog.readCommitted(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // compaction records a schema for the folded base, so the fold
    // reads job-free afterwards
    assert(TxLog.compact(spark, dir, graceMs = 0L) == Some(1L))
    val (folded, foldedJobs) = jobsOf(TxLog.readCommitted(spark, dir).schema)
    assert(folded == inferred(TxLog.committedDirs(spark, dir)))
    assert(foldedJobs == 0)
  }
}
