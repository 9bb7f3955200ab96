package graft

import org.apache.spark.sql.SparkSession

/** The one batch-session config every graft main runs under.
  *
  * `builder()` returns a plain `SparkSession.Builder`, so a caller that
  * needs something else (SpillCheck's force-spill knobs, Explain's
  * `key=value` overrides) adds `.config(k, v)` before `getOrCreate()`.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(raw) =>
      val n = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
      }
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got $n")
      n
    case None => Runtime.getRuntime.availableProcessors
  }

  def builder(): SparkSession.Builder = {
    val n = cores
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts has shipped as both TIMESTAMP(NANOS) and
      // TIMESTAMP_MICROS across corpus regenerations; this keeps a
      // nanos-encoded corpus loadable (read as raw long) and
      // Tables.eventTs dispatches on whichever shape is observed
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Janino compilations are cached per generated-code shape; the
      // default of 100 entries is smaller than one curation pass's
      // working set, so a repeated q92 + q19 pass at sf0.01 recompiled
      // ~55 classes every time and 40-doc curationStep batches 75-114.
      // 200 is the smallest size measured to hold both (0, and 12-29
      // per batch; 300-1000 gave the same counts)
      .config("spark.sql.codegen.cache.maxEntries", "200")
  }
}
