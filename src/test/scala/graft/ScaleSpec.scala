package graft

import java.util.concurrent.atomic.AtomicLong

import graft.ext.{Components, Dedup}
import graft.obs.{Counters, Counts}
import graft.sources.{Tables, TxLog}
import graft.streaming.StreamingAgg
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCALE.md's growth claims, restated as counts that do not drift
  * between runs: jobs and stages (rounds), shuffle-write bytes
  * (communication), rows and bytes read, and filesystem calls.  Sizes
  * are small; what is asserted is how each count moves as the stored
  * state grows, not how long anything takes. */
class ScaleSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  /** 8 md5 words per doc: word trigrams of two different ids never
    * collide, so LSH candidates are exactly the planted near-dups. */
  private def md5Words(id: Column): Seq[Column] =
    (0 to 7).map(k => md5(concat(id, lit(s"_$k"))))

  private def md5Docs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat_ws(" ", md5Words(col("id")): _*).as("text"))

  test("LSH probe: a fixed batch's shuffle and candidates stay flat as the index grows 16x; " +
      "the stored side is scanned whole but never enters an exchange") {
    val name = "scalespec_probe_idx"
    val base = 500L
    // the probe's ids sit far above any index id and are never
    // appended, so every size point probes the identical batch: 50
    // near-dups of base docs 0..49 (last word swapped) and 50 fresh
    // docs.  An RDD-backed batch has no size statistic, like a
    // streaming micro-batch, and reads no file, so the input records
    // that grow with the index are the stored side's
    val far = 1L << 40
    val nearDups = spark.range(0, 50).select((col("id") + far).as("id"),
      concat_ws(" ", md5Words(col("id")).init :+ lit("swapped"): _*).as("text"))
    val rows = nearDups.unionByName(md5Docs(far + 50, far + 100)).collect().toSeq
    val probe = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      nearDups.schema)
    def measure(): (Long, Counts, Boolean) = {
      val ((n, moved), c) = Counters.of(spark) {
        val p = Dedup.lshPairsAgainstIndex(probe, "id", "text", name)
        try {
          val n = p.count()
          val (scanned, over) = PlanShapeSpec.exchangesOverScan(
            p.queryExecution.executedPlan, s"${name}_bands")
          assert(scanned, "the probe must read the stored band table")
          (n, over.nonEmpty)
        } finally Dedup.unpersistInputsOf(p)
      }
      (n, c, moved)
    }
    try {
      Dedup.writeLshIndex(md5Docs(0L, base), "id", "text", name)
      val at1 = measure()
      Dedup.appendToLshIndex(md5Docs(base, 4 * base), 0L, "id", "text", name)
      val at4 = measure()
      Dedup.appendToLshIndex(md5Docs(4 * base, 16 * base), 1L, "id", "text", name)
      val at16 = measure()
      val points = Seq(1 -> at1, 4 -> at4, 16 -> at16)
      points.foreach { case (m, (cands, c, moved)) =>
        info(s"index ${m}x (${m * base} docs): candidates $cands, jobs ${c.jobs}, " +
          s"stages ${c.stages}, shuffle ${c.shuffleWriteBytes} B, " +
          s"stored rows read ${c.inputRecords}, bands exchanged $moved")
      }
      val (cands1, c1, _) = at1
      assert(cands1 >= 40, s"fixture: only $cands1 of the 50 planted near-dups are candidates")
      for ((m, (cands, c, moved)) <- points) {
        assert(!moved, s"${m}x: the stored band table entered an exchange")
        assert(cands == cands1, s"${m}x: $cands candidates, $cands1 at 1x")
        assert(c.jobs == c1.jobs && c.stages == c1.stages,
          s"${m}x: ${c.jobs} jobs / ${c.stages} stages, ${c1.jobs} / ${c1.stages} at 1x")
        assert(c.shuffleWriteBytes <= c1.shuffleWriteBytes * 5 / 4,
          s"${m}x: shuffle-write ${c.shuffleWriteBytes} B, over 1.25x of " +
            s"${c1.shuffleWriteBytes} B at 1x — index-side rows are moving")
        // the scan is linear: per indexed doc, its 8 band rows once and
        // its one shingle row once per fetch join (two)
        assert(c.inputRecords - c1.inputRecords == (m - 1) * base * (8 + 2),
          s"${m}x: ${c.inputRecords} stored rows read, ${c1.inputRecords} at 1x")
      }
    } finally Seq("_bands", "_shingles", "_batches").foreach(sfx =>
      Tables.dropWithLocation(spark, s"$name$sfx"))
  }

  /** Deterministic doc text: 50 tokens unique to the doc's base id.
    * Every 5th doc near-dups its predecessor (same-batch pair) and
    * every 7th near-dups a doc two batches back (a merge into prior
    * components), so every batch adds pairs, merges and re-picks. */
  private def curationText(id: Long, per: Int): String = {
    val b =
      if (id % 5 == 4) id - 1
      else if (id % 7 == 3 && id >= 2 * per) id - 2 * per
      else id
    val toks = (0 until 50).map(j => s"w${b}p$j")
    (if (b != id) toks.updated(49, s"odd$id") else toks).mkString(" ")
  }

  test("curation logs: per-batch log reads grow with log length; a mid-loop fold of " +
      "the four logs resets the live dirs to one per log and cuts the next batch's reads") {
    val per = 20
    val nBatches = 12
    val foldAfter = 6
    val scoreOf = (df: DataFrame) =>
      df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
    val base = java.nio.file.Files.createTempDirectory("scalespec_curation")
    val name = "scalespec_curation_idx"
    val logs @ Seq(pairs, assign, surv, emit) =
      Seq("pairs", "assign", "surv", "emit").map(l => s"$base/$l")
    Dedup.writeLshIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", name)
    // per batch: (live dirs across the four logs before the step, input
    // bytes of the step's assign, survivors and emit layers).  Those
    // layers read the logs and the step's cached resolved assignment;
    // the pairs layer, left out, scans the LSH index, whose growth is
    // the probe's claim above
    val perBatch = try (1 to nBatches).map { k =>
      val lo = (k - 1).toLong * per
      val batch = (lo until lo + per).map(i => (i, curationText(i, per)))
        .toDF("doc_id", "text")
      val dirs = logs.map(d => TxLog.committedDirs(spark, d).size).sum
      val logBytes = new AtomicLong
      val window = Counters.open(spark)
      try StreamingAgg.curationStep(batch, k.toLong, "doc_id", "text", scoreOf,
          "q", name, pairs, assign, surv, emitDir = Some(emit), minJaccard = 0.5,
          layerHook = (layer, _) => {
            val c = window.cut()
            if (layer != "pairs") logBytes.addAndGet(c.inputBytes)
          })
      finally window.close()
      if (k == foldAfter) {
        TxLog.compact(spark, pairs)
        TxLog.compactWith(spark, assign, (df, c) =>
          Components.resolveAssignments(df, "doc_id", "batch").withColumn("batch", lit(c)))
        TxLog.compactWith(spark, surv, (df, c) =>
          Components.resolveSurvivors(df, "batch").withColumn("batch", lit(c)))
        TxLog.compactWith(spark, emit, (df, c) =>
          df.groupBy(col("doc_id")).agg(max_by(col("kept"), col("batch")).as("kept"))
            .withColumn("batch", lit(c)))
      }
      (dirs, logBytes.get)
    } finally {
      Seq("_bands", "_shingles", "_batches").foreach(sfx =>
        Tables.dropWithLocation(spark, s"$name$sfx"))
      Tables.deleteRec(base)
    }
    info(s"(live dirs, bytes read) per batch, fold after batch $foldAfter: " +
      perBatch.mkString(" "))
    val (dirs, bytes) = perBatch.unzip
    // unfolded, each batch adds one dir per log and the step reads more
    // bytes than the batch before it — the growth the fold must cut
    assert(dirs == (0 until foldAfter).map(4 * _) ++ (1 to nBatches - foldAfter).map(4 * _))
    for (i <- 1 until nBatches if i != foldAfter)
      assert(bytes(i) > bytes(i - 1), s"reads did not grow with the log: $bytes")
    // the fold leaves one base dir per log and the next batch reads
    // fewer bytes than the batch before the fold.  The reads do not
    // become constant: after it they grow by a dir per log per batch
    // again, on top of a base and a resolved assignment that hold the
    // live rows
    assert(bytes(foldAfter) < bytes(foldAfter - 1),
      s"the fold after batch $foldAfter did not cut the next batch's reads: $bytes")
  }

  test("TxLog resolve: one listing, one small read per live marker and no Spark job, " +
      "above the bulk-read threshold and after a keep-100 fold") {
    val n = 2048
    assert(n > TxLog.bulkReadThreshold)
    val local = java.nio.file.Files.createTempDirectory("scalespec_txlog")
    val commits = java.nio.file.Files.createDirectories(local.resolve("_commits"))
    def marker(name: String): Unit = java.nio.file.Files.write(
      commits.resolve(name), s"$name-synthetic".getBytes("UTF-8"))
    (0 until n).foreach(i => marker(i.toString))
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingLocalFs].getName)
    val dir = s"graftcount:$local"
    def resolve(): (Int, Long, Long, Long) = {
      CountingLocalFs.reset()
      val (dirs, c) = Counters.of(spark)(TxLog.committedDirs(spark, dir))
      (dirs.size, CountingLocalFs.listings.get, CountingLocalFs.opens.get, c.jobs)
    }
    try {
      val before = resolve()
      // fold all but the newest 100 markers into one c<ceiling> marker
      // (markers only: the data side of a fold is the corpus's own size)
      val keep = 100
      val ceiling = n - keep - 1
      marker(s"c$ceiling")
      (0 to ceiling).foreach(i => java.nio.file.Files.delete(commits.resolve(i.toString)))
      val after = resolve()
      info(s"$n markers: (dirs, listings, reads, jobs) = $before; " +
        s"after the keep-$keep fold: $after")
      assert(before == ((n, 1L, n.toLong, 0L)))
      assert(after == ((keep + 1, 1L, keep + 1L, 0L)))
    } finally Tables.deleteRec(local)
  }
}

/** The local filesystem under the `graftcount:` scheme, counting the
  * calls a TxLog resolve makes: directory listings and file opens.
  * Hadoop's `RawLocalFileSystem` updates no statistics for either. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val listings, opens = new AtomicLong
  def reset(): Unit = { listings.set(0); opens.set(0) }
}
