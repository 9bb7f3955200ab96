package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan dump for declared queries, under the production session
  * ([[GraftSession]], extensions installed).  For each query: the
  * initial formatted plan (predicate pushdown in PushedFilters, column
  * pruning in ReadSchema, codegen spans, join strategies, exchanges),
  * then the row count of a collect, then the AQE-final executed plan,
  * where runtime shuffle reuse shows as a repeated
  * `ShuffleQueryStage n` / `ReusedExchange`.
  *
  * Usage: runMain graft.tools.Explain <sfDir> <queryName...> [key=value...]
  * (`key=value` args become session confs — e.g. disable
  * autoBroadcastJoinThreshold to dump the plan shape a corpus too big
  * to broadcast would take.)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (confArgs, rest) = args.toSeq.partition(_.contains('='))
    require(rest.length >= 2,
      "usage: graft.tools.Explain <sfDir> <queryName...> [key=value...]")
    val sfDir = rest.head; val names = rest.tail
    val qs = SparkEntry.queries
    val confs = confArgs.map { a => val i = a.indexOf('='); (a.take(i), a.drop(i + 1)) }
    val builder = GraftSession.builder()
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (confs.nonEmpty) println(s"-- extra confs: ${confs.mkString(",")}")
    try names.foreach { n =>
      val df = qs(n)(spark, sfDir)
      println(s"\n========== $n (initial) ==========")
      df.explain("formatted")
      // collect() executes df's OWN QueryExecution (a noop write would
      // execute a fresh one and leave df's adaptive plan un-finalized);
      // declared-query outputs are gate-sized, so the collect is tiny
      println(s"-- rows: ${df.collect().length}")
      println(s"\n========== $n (executed, AQE-final) ==========")
      println(df.queryExecution.executedPlan.toString)
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
