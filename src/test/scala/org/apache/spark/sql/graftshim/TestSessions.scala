package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}

/** Test-only session shim. */
object TestSessions {
  /** A session on `base`'s SparkContext and shared state with no
    * session extensions.  `newSession()` and the builder both apply the
    * context's `spark.sql.extensions`; only the primary constructor
    * takes the extensions as given, and it is Scala-private, hence the
    * reflective call. */
  def withoutExtensions(base: SparkSession): SparkSession = {
    val b = base.asInstanceOf[classic.SparkSession]
    val ctor = classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6)
      .getOrElse(sys.error("classic.SparkSession primary constructor not found"))
    ctor.newInstance(b.sparkContext, Some(b.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
