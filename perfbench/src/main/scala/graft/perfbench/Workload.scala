package graft.perfbench

/** One benchmark workload: seeded inputs, a closed-loop pass of calls
  * into the library, checks on every call's output, and the per-layer
  * figures its traced pass yields. */
trait Workload {
  def name: String

  /** Generate the inputs from the seed; returns a digest per input, so
    * repeated generation can be compared byte for byte. */
  def generate(): Map[String, String]

  /** Load generated inputs into the session (caches, expected outputs). */
  def load(): Unit

  /** Rows, distinct keys, bytes and shared work of each input. */
  def shape: Map[String, Any]

  /** One timed pass; `traced` wraps each layer call in a span. */
  def pass(traced: Boolean): Unit

  /** Untimed passes before timing: JIT, codegen and lazy set-up. */
  def warmUpPasses: Int = 1

  /** Per-layer metrics of the last traced pass, as (name, value, unit);
    * 0 for a layer that has not been called. */
  def layerMetrics(): Seq[(String, Double, String)]

  /** (name, DuckDB SQL, Spark output rows) for the oracle comparison. */
  def oracles: Seq[(String, String, Map[String, Any])]

  /** Drop caches and scratch state before the next workload runs. */
  def release(): Unit
}

object Workload {
  val names: Seq[String] = Seq("fold_groupby", "curation_batch", "stream_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "fold_groupby" => new FoldGroupby(ctx)
    case "curation_batch" => new CurationBatch(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
