package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev utility: run one query and print per-stage task counts / CPU / wall
  * (which stage eats the budget — shuffle map, custom exec, final sort?).
  */
object DbgStages {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local("dbg-stages")
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    // warm rep; cache cleared afterwards so the measured run pays for its
    // own Eager.cached builds exactly like a Bench rep does
    SparkEntry.queries(name)(spark, dir).count()
    spark.catalog.clearCache()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int, Long, Long)]()
    val taskCpu = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val taskDetail = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          val m = t.taskMetrics
          taskCpu.merge(t.stageId, m.executorCpuTime, (a, b) => a + b)
          taskDetail.put(t.stageId,
            f"run=${m.executorRunTime}ms deserCpu=${m.executorDeserializeCpuTime / 1e6}%.1fms " +
              f"gc=${m.jvmGCTime}ms shufWrite=${m.shuffleWriteMetrics.writeTime / 1e6}%.1fms " +
              f"shufWriteRec=${m.shuffleWriteMetrics.recordsWritten} " +
              f"shufReadWait=${m.shuffleReadMetrics.fetchWaitTime}ms " +
              f"resultSer=${m.resultSerializationTime}ms")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        stages.put(i.stageId, (i.name.takeWhile(_ != '\n'), i.numTasks,
          taskCpu.getOrDefault(i.stageId, 0L), wall))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftaccess.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    println(f"[dbg] $name total wall $wall%.3f s")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, (nm, nt, cpu, w)) =>
      println(f"[dbg] stage $id%3d tasks=$nt%3d cpu=${cpu / 1e6}%8.1f ms wall=$w%5d ms  $nm")
      Option(taskDetail.get(id)).foreach(d => println(s"[dbg]           $d"))
    }
    spark.stop()
  }
}
