package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftaccess.GraftSparkAccess
import org.apache.spark.scheduler._

/** Task-level totals of one span (or of a whole phase). */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunSec = 0.0
  var taskCpuSec = 0.0
  var shuffleWriteMb = 0.0
  var spillMb = 0.0
  var inputMb = 0.0
  var outputMb = 0.0
  var scanTasks = 0
  /** Per stage: summed task run time and each task's run time. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunSec += o.taskRunSec; taskCpuSec += o.taskCpuSec
    shuffleWriteMb += o.shuffleWriteMb; spillMb += o.spillMb
    inputMb += o.inputMb; outputMb += o.outputMb; scanTasks += o.scanTasks
    o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** max / median task time in the stage with the most task time. */
  def stageSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val heavy = stageTasks.values.maxBy(_.sum)
      val med = Stats.median(heavy.toSeq)
      if (med > 0) heavy.max / med else 1.0
    }
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long)

/** The traced run's instrument: a SparkListener that attributes every job,
  * stage and task to the job group it ran under, plus named spans around
  * calls into the engine's public functions. Each span sets its own job
  * group, so Spark's work lands on exactly one span. Spans and per-span
  * totals stay in memory and are written out once at the end of the run.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  /** The local property Spark stores `setJobGroup`'s id under. */
  private val JobGroupKey = "spark.jobGroup.id"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  private def group(id: Long) = s"perfbench-$runId-$id"
  private def w(g: String): Work = work.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("")
    w(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    w(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val x = w(stageGroup.getOrElse(e.stageId, ""))
      val run = m.executorRunTime / 1e3
      x.tasks += 1
      x.taskRunSec += run
      x.taskCpuSec += m.executorCpuTime / 1e9
      x.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      x.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
      x.inputMb += m.inputMetrics.bytesRead / 1048576.0
      x.outputMb += m.outputMetrics.bytesWritten / 1048576.0
      if (m.inputMetrics.bytesRead > 0) x.scanTasks += 1
      x.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += run
    }
  }

  /** Runs `f` inside a named span whose jobs are grouped under it. */
  def span[T](name: String)(f: => T): (T, Long) = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    stack.set(id :: stack.get)
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try (f, id)
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(id, name, parent, t0, t1) }
      stack.set(stack.get.tail)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty(JobGroupKey, prevGroup)
    }
  }

  /** Spans named `name`, in start order. */
  def spansNamed(name: String): Seq[Span] = synchronized {
    spans.filter(_.name == name).sortBy(_.startNs).toSeq
  }

  def seconds(id: Long): Double = synchronized {
    spans.find(_.id == id).map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)
  }

  /** Work attributed to span `id` itself (not its children). */
  def workOf(id: Long): Work = {
    GraftSparkAccess.drainListenerBus(sc)
    synchronized { work.getOrElse(group(id), new Work) }
  }

  def spansJson: String = synchronized {
    Json(Map("run_id" -> runId, "spans" -> spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
  }
}
