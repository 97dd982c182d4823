package graft.util

import scala.collection.mutable

import org.apache.spark.graftaccess.GraftSparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One stage's share of a window: its first-line name, the tasks that ended
  * in it, their summed executor CPU, and the stage's submit-to-complete wall
  * (0 when it did not complete inside the window). */
final case class StageRecord(name: String, tasks: Int, cpuSec: Double, wallSec: Double)

/** What one measurement window cost. `userSec`/`sysSec` are the whole
  * process's CPU from `/proc/self/stat` (-1 where it cannot be read); the
  * rest comes from the listener bus. Task counts and executor CPU are the
  * sums over `stageRecords`. */
final case class Profile(wallSec: Double, userSec: Double, sysSec: Double,
    jobs: Int, stageRecords: Seq[StageRecord], gcSec: Double,
    shuffleWriteMb: Double, spillMb: Double) {
  def stages: Int = stageRecords.size
  def tasks: Int = stageRecords.map(_.tasks).sum
  def cpuSec: Double = stageRecords.map(_.cpuSec).sum
}

/** The one way the suite measures a query: a window around a body, with its
  * own listener. Attribution is by window, not by job group: Structured
  * Streaming sets its own job group on micro-batch jobs, so a job-group
  * listener would lose a streaming query's work. A window therefore
  * measures everything the session runs while it is open, and callers run
  * one query at a time.
  */
object QueryProfile {
  private final class Window extends SparkListener {
    private final class Stage {
      var name = ""; var tasks = 0; var cpuNs = 0L; var wallMs = 0L
    }
    private val stageById = mutable.LinkedHashMap.empty[Int, Stage]
    private var jobs = 0
    private var gcMs = 0L
    private var shuffleBytes = 0L
    private var spillBytes = 0L

    private def stage(id: Int): Stage = stageById.getOrElseUpdate(id, new Stage)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.name = i.name.takeWhile(_ != '\n')
      s.wallMs = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId)
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    def profile(wallSec: Double, userSec: Double, sysSec: Double): Profile = synchronized {
      Profile(wallSec, userSec, sysSec, jobs,
        stageById.values.map(s => StageRecord(s.name, s.tasks, s.cpuNs / 1e9, s.wallMs / 1e3)).toSeq,
        gcMs / 1e3, shuffleBytes / 1048576.0, spillBytes / 1048576.0)
    }
  }

  /** Runs `body` inside a fresh window and returns its result with the
    * window's profile. The bus is drained before the listener is added, so
    * events still queued from earlier work are not counted, and again after
    * `body`, so every event of its own work is. */
  def measure[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    GraftSparkAccess.drainListenerBus(sc)
    val w = new Window
    sc.addSparkListener(w)
    try {
      val (u0, s0) = procUserSys()
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSparkAccess.drainListenerBus(sc)
      val (u1, s1) = procUserSys()
      def delta(a: Double, b: Double) = if (a >= 0 && b >= 0) b - a else -1.0
      (result, w.profile(wall, delta(u0, u1), delta(s0, s1)))
    } finally sc.removeSparkListener(w)
  }

  /** Whole-process user and sys CPU seconds from `/proc/self/stat` (utime
    * and stime, fields 14 and 15), or (-1, -1) where it cannot be read.
    * Executor CPU cannot tell "the plan did more work" from "the host
    * faulted anonymous memory under us" (sys time counts toward thread
    * CPU); a window's sys share can. */
  def procUserSys(): (Double, Double) =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")),
        java.nio.charset.StandardCharsets.US_ASCII)
      // comm (field 2) may contain spaces: fields restart after the last ')'
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      val hz = 100.0 // USER_HZ: 100 on every mainstream Linux
      (rest(11).toDouble / hz, rest(12).toDouble / hz)
    } catch { case _: Throwable => (-1.0, -1.0) }
}
