package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs: the production
  * config ([[GraftSession.builder]], `GraftExtensions` included), pinned
  * to 4 cores and 4 shuffle partitions so plan and byte pins do not
  * depend on the host. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
