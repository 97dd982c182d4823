package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("explain")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, dir)
      df.explain("formatted")
      // SPARK_GRAFT_EXPLAIN_RUN=1: execute first, then print the FINAL
      // adaptive plan (AQE re-plans at runtime — coalesced shuffle reads,
      // converted joins, skew splits only show up post-execution)
      if (sys.env.get("SPARK_GRAFT_EXPLAIN_RUN").contains("1")) {
        // collect(), not count(): count() builds a NEW query execution
        // (groupBy().count()), leaving this one un-finalized
        df.collect()
        println(s"----- $name: post-execution adaptive plan -----")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
