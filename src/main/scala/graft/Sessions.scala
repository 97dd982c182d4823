package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a Spark session: every main and the test
  * suite call [[local]], so they all run at one posture.
  *  - `local[N]` with N shuffle partitions, N = [[cpus]];
  *  - UTC session time zone, UI off, [[graft.functions.GraftExtensions]];
  *  - shuffle and checkpoint scratch on the tmpfs root that
  *    [[graft.util.EphemeralIO.stage]] makes for the role, with managed
  *    tables under it, never in the working directory;
  *  - the role as app name, log level WARN.
  * A later call in the same JVM returns the running session
  * (`getOrCreate`) with the runtime confs re-applied.
  */
object Sessions {

  /** Local width: `SPARK_GRAFT_CPUS`, default 4; anything but a positive
    * integer is rejected. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(v =>
    v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))

  def local(role: String): SparkSession = {
    val n = cpus
    val scratch = graft.util.EphemeralIO.stage(role)
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(role)
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        scratch.getOrElse(sys.props("java.io.tmpdir")) + s"/graft-$role-warehouse")
    val spark = scratch.fold(builder)(builder.config("spark.local.dir", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
