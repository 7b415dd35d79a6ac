package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every spec runs in, built from [[Session]].
  * All suites share one forked JVM (`Test / fork := true`) and
  * `getOrCreate` returns the session built first, so only a single
  * builder keeps each suite's settings independent of suite order.
  */
trait SharedSession {
  lazy val spark: SparkSession = SharedSession.spark
}

object SharedSession {
  /** Four slots and four shuffle partitions whatever the host: the
    * width every suite was written against. */
  def builder: SparkSession.Builder = Session.builder(4)

  lazy val spark: SparkSession = builder.getOrCreate()
}
