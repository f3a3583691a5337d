package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, pinned to 4 cores so the
  * suites do not depend on the host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  val sf = "/root/testdata/sf0.001"
}
