package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate dedups across
  * suites in the forked test JVM), at the mains' posture: the tmpfs scratch
  * keeps a host-disk throughput dip from stretching a query past
  * BudgetSpec's bound, and GraftExtensions is active in every suite.
  */
trait SparkSpec {
  lazy val spark: SparkSession = Sessions.local("test")

  // follows the same env/prop override as the runtime (WhoStarQueries.dataDir)
  val referenceDataDir = graft.etl.WhoStarQueries.dataDir
  val sfSmoke = "/root/testdata/sf0.001"
}
