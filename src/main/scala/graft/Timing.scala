package graft
/** Dev utility: time one query N times at a given sf dir. */
object Timing {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local("timing")
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    // SPARK_GRAFT_TIMING_MODE=rdd: execute the FULL materializing physical
    // plan via queryExecution.toRdd.count() — no logical Aggregate is
    // added, so optimizer rewrites that collapse count() plans (column
    // pruning to a bare scan, as-of join elimination) don't fire. This is
    // the honest way to time what a query costs when its rows are actually
    // consumed (write, serve, downstream join).
    val rddMode = sys.env.get("SPARK_GRAFT_TIMING_MODE").contains("rdd")
    // comma-separated names interleave WITHIN each rep — paired
    // same-window A/B samples, immune to the box's minutes-scale drift
    // that poisons two sequential single-query JVM runs
    val qnames = name.split(",").map(_.trim).filter(_.nonEmpty)
    (1 to reps).foreach { r =>
      qnames.foreach { q =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val n = if (rddMode) df.queryExecution.toRdd.count() else df.count()
        println(f"[timing] $q rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        // bench posture: each sample pays for its own Eager.cached builds
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
