package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [queryName...] */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: run only these queries (local dev loop);
    // the driver's 2-arg form still dumps everything
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, sfDir, outDir, names) finally spark.stop()
  }

  /** Writes each named query's result to `outDir/<name>` and the
    * matching oracle SQL to `outDir/oracle_sql.json`.  A query that
    * throws has its `outDir/<name>` removed, so an earlier run's output
    * cannot pass the DuckDB compare in its place, and its exception
    * message recorded in `outDir/verify_status.json` (`{}` when none
    * failed; `tools/check.py` prints the entries).  Ends with one
    * `[verify] k of n failed` line; returns the failed names. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] = {
    val qs = SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty,
      s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failed = names.filterNot { name =>
      val out = s"$outDir/$name"
      try {
        val df = qs(name)(spark, sfDir)
        // release any MEMORY_AND_DISK intermediates the query
        // registered (no-op for queries that registered nothing) —
        // in a finally so a failed write can't pin them for the
        // rest of the session
        try df.coalesce(1).write.mode("overwrite").parquet(out)
        finally graft.ext.Dedup.unpersistInputsOf(df)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        graft.sources.Tables.deleteRec(Paths.get(out))
        false
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val detail = if (failed.isEmpty) "" else s": ${failed.mkString(", ")}"
    System.err.println(s"[verify] ${failed.size} of ${names.size} failed$detail")
    failed
  }
}
