package graft.tools

import graft.sources.TxLog
import org.apache.hadoop.fs.Path

/** Measures the TxLog's marker-side costs at reader-relevant scales —
  * the numbers behind the SCALE.md claim that a manifest log of
  * 10^3..10^5 live markers stays cheap to resolve, and that
  * generational [[TxLog.compact]] collapses the resolution cost
  * without rewriting the open tail.
  *
  * For each n in {10^3, 10^4, 10^5}: synthesize a log with n live
  * markers (marker files written directly — the data dirs are not
  * needed to measure marker resolution), then time
  *  - `committedBatchIds` (one `_commits` listing + name parse),
  *  - `committedDirs` (listing + body reads; above
  *    [[TxLog.bulkReadThreshold]]=1024 this takes the bounded
  *    driver-side thread-pool bulk-read path, so 10^4/10^5 measure
  *    THAT),
  *  - `isCommitted` (single-marker point lookup, the writer's
  *    replay check),
  * and finally a `compact(keepRecent=100)`-shaped fold of the marker
  * set (markers only — the data rewrite is the corpus's own size,
  * measured separately by q83/q84) followed by a re-timed resolve.
  *
  * Usage: runMain graft.tools.TxLogBench [markerCounts...]
  */
object TxLogBench {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq
                 else Seq(1000, 10000, 100000)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fsConf = spark.sparkContext.hadoopConfiguration
    for (n <- counts) {
      val dir = java.nio.file.Files.createTempDirectory(s"txlogbench_$n").toString
      val root = new Path(dir)
      val fs = root.getFileSystem(fsConf)
      val commits = new Path(root, "_commits")
      fs.mkdirs(commits)
      val (_, tWrite) = time {
        // parallel setup (32 threads): marker creation is the tool's
        // scaffolding, not the measured quantity
        val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
        try {
          val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              (0 until n).map(i => scala.concurrent.Future {
                val out = fs.create(new Path(commits, i.toString), false)
                try out.write(s"$i-synthetic".getBytes("UTF-8")) finally out.close()
              }(ec)))(scala.collection.BuildFrom.buildFromIterableOps, ec),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      }
      val (ids, tList) = time { TxLog.committedBatchIds(spark, dir) }
      require(ids.size == n, s"expected $n live ids, got ${ids.size}")
      val (dirs, tResolve) = time { TxLog.committedDirs(spark, dir) }
      require(dirs.size == n)
      val (_, tPoint) = time { TxLog.isCommitted(spark, dir, (n / 2).toLong) }
      // compact the marker set generationally: fold all but the newest
      // 100 markers into one c<ceiling> marker (marker ops only — no
      // data, so this isolates the log-side cost of compaction)
      val keep = 100
      val ceiling = n - keep - 1
      val (_, tFold) = time {
        val out = fs.create(new Path(commits, s"c$ceiling"), false)
        try out.write(s"c$ceiling-synthetic".getBytes("UTF-8")) finally out.close()
        (0 to ceiling).foreach(i => fs.delete(new Path(commits, i.toString), false))
      }
      val (dirs2, tResolve2) = time { TxLog.committedDirs(spark, dir) }
      require(dirs2.size == keep + 1, s"expected ${keep + 1} live dirs, got ${dirs2.size}")
      println(f"markers=$n%7d  write_s=$tWrite%7.2f  list_s=$tList%6.3f  " +
        f"resolve_s=$tResolve%6.3f  point_s=$tPoint%6.4f  " +
        f"fold_s=$tFold%6.3f  resolve_after_compact_s=$tResolve2%6.3f")
      fs.delete(root, true)
    }
    spark.stop()
  }
}
