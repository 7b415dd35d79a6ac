package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make graft functions resolvable from plain
  * SQL in a session built with `withExtensions` (or the
  * spark.sql.extensions conf).
  */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_decimal_dot resolves in SQL via GraftExtensions") {
    // other suites share a default session built WITHOUT extensions;
    // getOrCreate would return it unchanged. Clear the default/active
    // slots so the builder constructs a fresh session (reusing the
    // SparkContext), then restore — and never stop() the shared context.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = SharedSession.builder
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val got = spark.sql(
        """SELECT CAST(graft_decimal_dot(
          |  array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
          |  array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS DOUBLE) AS d""".stripMargin)
        .collect()(0).getDouble(0)
      assert(got === 4.0) // 1.5*2.0 + 2.0*0.5
      // second native expression resolves too
      val jw = spark.sql(
        "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS jw")
        .collect()(0).getDouble(0)
      assert(math.abs(jw - 0.9611111111111111) < 1e-12)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
