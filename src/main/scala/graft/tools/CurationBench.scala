package graft.tools

import graft.ext.Components
import graft.sources.TxLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the streamed curation loop's LOG-GROWTH story — the
  * numbers behind SCALE.md's claim that per-batch cost degrades with
  * accumulated log length until mid-loop compaction folds it, and
  * the operational guidance for the compaction cadence.
  *
  * One run per arm ({no-compact, compact-TxLogs-every-C,
  * compact-TxLogs+index-major-every-C,
  * compact-TxLogs+index-minor-every-C}) of N batches of
  * synthetic docs (deterministic near-dup rate, so pairs/clusters
  * exist) through [[graft.streaming.StreamingAgg.curationStep]] with
  * the emission layer on.  The per-batch wall-time SERIES is the
  * measurement: its mean around batch 10 / 100 / N is the curve, and
  * the no-compact arm's tail-vs-head ratio is the degradation the
  * compacting arm must flatten.  Compaction (between batches, the
  * q103 cadence) folds all four logs — pairs raw, assignment/
  * survivor/emission through their own resolutions
  * ([[TxLog.compactWith]]).
  *
  * Usage: runMain graft.tools.CurationBench [nBatches] [compactEvery]
  *          [docsPerBatch] [armFilter]
  * `armFilter` (EXACT arm tag: "nocompact", "compactN",
  * "compactidxN", or "compactminorN") lets two
  * JVMs run one arm each concurrently — the arms are independent.
  * Exact equality, not substring: "compact" would also match
  * "nocompact" and silently double-run that arm.
  */
object CurationBench {

  /** Deterministic doc text: 50 tokens unique to the doc's BASE id
    * (no accidental vocab collisions).  Every 5th doc near-dups its
    * predecessor (same-batch pair) and every 7th near-dups the doc
    * ~2.5 batches earlier (cross-batch pair → the merge path that
    * touches prior components), so pairs, merges, and survivor
    * re-picks occur at a steady, realistic rate. */
  private def docText(id: Long): String = {
    val base =
      if (id % 5 == 4) id - 1
      else if (id % 7 == 3 && id >= 125) id - 125
      else id
    val toks = (0 until 50).map(j => s"w${base}p$j")
    val perturbed = if (base != id) toks.updated(49, s"odd$id") else toks
    perturbed.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(1000)
    val compactEvery = args.lift(1).map(_.toInt).getOrElse(100)
    val per = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def runArm(tag: String, compact: Boolean,
        compactIndex: String): (Array[Double], Array[Double], Long) = {
      // stream the series to disk per batch: a killed run still
      // yields its measured prefix
      val csv = java.nio.file.Paths.get(s"/tmp/curbench_$tag.csv")
      java.nio.file.Files.deleteIfExists(csv)
      val base = java.nio.file.Files.createTempDirectory(s"curbench_$tag").toString
      val name = s"curbench_${tag}_idx"
      val dirs = Seq("pairs", "assign", "surv", "emit").map(l => s"$base/$l")
      val Seq(pairsDir, assignDir, survDir, emitDir) = dirs
      graft.ext.Dedup.writeLshIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", name)
      val scoreOf = (df: DataFrame) =>
        df.select(col("doc_id")).withColumn("q", (col("doc_id") % 7).cast("double"))
      val times = new Array[Double](nBatches)
      val layerTotals = scala.collection.mutable.LinkedHashMap(
        "pairs" -> 0.0, "assign" -> 0.0, "survivors" -> 0.0, "emit" -> 0.0)
      val compactions = scala.collection.mutable.ArrayBuffer.empty[Double]
      try {
        var k = 1
        while (k <= nBatches) {
          val lo = (k - 1).toLong * per
          val batch = (lo until lo + per).map(i => (i, docText(i))).toDF("doc_id", "text")
          val t0 = System.nanoTime()
          var lastMark = t0
          graft.streaming.StreamingAgg.curationStep(batch, k.toLong,
            "doc_id", "text", scoreOf, "q", name,
            pairsDir, assignDir, survDir, emitDir = Some(emitDir),
            minJaccard = 0.5,
            layerHook = (l, _) => {
              val now = System.nanoTime()
              layerTotals(l) += (now - lastMark) / 1e9; lastMark = now
            })
          times(k - 1) = (System.nanoTime() - t0) / 1e9
          java.nio.file.Files.writeString(csv, f"$k,${times(k - 1)}%.3f\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
          if (compact && k % compactEvery == 0 && k < nBatches) {
            val c0 = System.nanoTime()
            TxLog.compact(spark, pairsDir)
            TxLog.compactWith(spark, assignDir, (df, c) =>
              Components.resolveAssignments(df, "doc_id", "batch")
                .withColumn("batch", lit(c)))
            TxLog.compactWith(spark, survDir, (df, c) =>
              Components.resolveSurvivors(df, "batch").withColumn("batch", lit(c)))
            TxLog.compactWith(spark, emitDir, (df, c) =>
              df.groupBy(col("doc_id"))
                .agg(max_by(col("kept"), col("batch")).as("kept"))
                .withColumn("batch", lit(c)))
            // the fifth log: the LSH index's per-batch partitions are
            // what the probe actually reads every batch — folding the
            // TxLogs alone leaves the growth curve unchanged
            compactIndex match {
              case "major" => graft.ext.Dedup.compactLshIndex(spark, name)
              case "minor" => graft.ext.Dedup.compactLshIndexMinor(spark, name)
              case _       => ()
            }
            compactions += (System.nanoTime() - c0) / 1e9
          }
          k += 1
        }
        val logRows = dirs.map(d => TxLog.readCommitted(spark, d).count()).sum
        val layers = layerTotals.map { case (l, t) =>
          f"$l=${t / nBatches}%4.2f" }.mkString(" ")
        println(s"  [$tag] per-batch layer means: $layers")
        (times, compactions.toArray, logRows)
      } finally Seq(s"${name}_bands", s"${name}_shingles", s"${name}_batches")
        .foreach(graft.sources.Tables.dropWithLocation(spark, _))
    }

    def meanAround(ts: Array[Double], center: Int): Double = {
      val lo = math.max(0, center - 10); val hi = math.min(ts.length, center)
      val slice = ts.slice(lo, hi)
      slice.sum / slice.length
    }
    val armFilter = args.lift(3)
    for ((tag, compact, compactIndex) <- Seq(
          ("nocompact", false, "none"),
          (s"compact$compactEvery", true, "none"), // TxLogs only
          (s"compactidx$compactEvery", true, "major"), // TxLogs + full index rewrite
          (s"compactminor$compactEvery", true, "minor")) // TxLogs + leveled index fold
        if armFilter.forall(_ == tag)) {
      val t0 = System.nanoTime()
      val (times, cps, logRows) = runArm(tag, compact, compactIndex)
      val total = (System.nanoTime() - t0) / 1e9
      val marks = Seq(10, 100, nBatches).filter(_ <= nBatches).distinct
      val curve = marks.map(m => f"b$m=${meanAround(times, m)}%5.2f s").mkString("  ")
      val cp = if (cps.isEmpty) "" else
        f"  compactions=${cps.length} mean=${cps.sum / cps.length}%5.2f s"
      println(f"arm=$tag%-12s batches=$nBatches per-batch: $curve  " +
        f"log_rows=$logRows%,d  total=$total%7.1f s$cp")
    }
    spark.stop()
  }
}
