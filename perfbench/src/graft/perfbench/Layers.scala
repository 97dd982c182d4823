package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced query pass, from the tracer's spans. */
object Layers {
  type Metrics = Map[String, (Double, String)]

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Spans `build:<q>`, `plan:<q>` and `exec:<q>` (one per pass) become the
    * construction, planning and execution layers; each metric is the median
    * over passes of the per-pass value.
    */
  def fromSpans(tr: Tracer, queries: Seq[String], nPasses: Int): Metrics = {
    def phase(p: String, q: String) = tr.spansNamed(s"$p:$q").take(nPasses)
    val perQuery = queries.map { q =>
      val b = phase("build", q); val p = phase("plan", q); val e = phase("exec", q)
      q -> (0 until nPasses).map { k =>
        val all = new Work
        Seq(b, p, e).foreach(s => all += tr.workOf(s(k).id))
        (tr.seconds(b(k).id), tr.workOf(b(k).id), tr.seconds(p(k).id),
          tr.seconds(e(k).id), tr.workOf(e(k).id), all)
      }
    }.toMap
    def perPass(f: ((Double, Work, Double, Double, Work, Work)) => Double): Double =
      med((0 until nPasses).map(k => queries.map(q => f(perQuery(q)(k))).sum))
    def skew: Double = med((0 until nPasses).map { k =>
      val all = new Work
      queries.foreach(q => all += perQuery(q)(k)._6)
      all.stageSkew
    })
    val totals: Metrics = Map(
      "build_s" -> (perPass(_._1) -> "s"),
      "build_jobs" -> (perPass(_._2.jobs.toDouble) -> "count"),
      "plan_s" -> (perPass(_._3) -> "s"),
      "exec_s" -> (perPass(_._4) -> "s"),
      "exec_jobs" -> (perPass(_._5.jobs.toDouble) -> "count"),
      "stages" -> (perPass(_._6.stages.toDouble) -> "count"),
      "tasks" -> (perPass(_._6.tasks.toDouble) -> "count"),
      "task_cpu_s" -> (perPass(_._6.taskCpuSec) -> "s"),
      "task_run_s" -> (perPass(_._6.taskRunSec) -> "s"),
      "shuffle_write_mb" -> (perPass(_._6.shuffleWriteMb) -> "MB"),
      "spill_mb" -> (perPass(_._6.spillMb) -> "MB"),
      "stage_skew" -> (skew -> "ratio"),
    )
    val each: Metrics = queries.flatMap { q =>
      val xs = perQuery(q)
      Seq(
        s"build_s.$q" -> (med(xs.map(_._1)) -> "s"),
        s"jobs.$q" -> (med(xs.map(_._2.jobs.toDouble)) -> "count"),
        s"exec_s.$q" -> (med(xs.map(_._4)) -> "s"),
        s"task_cpu_s.$q" -> (med(xs.map(_._6.taskCpuSec)) -> "s"),
      )
    }.toMap
    totals ++ each
  }

  /** Writes the run's spans next to the result record. */
  def writeSpans(ctx: Ctx, tr: Tracer): Unit =
    ctx.opts.get("trace-out").foreach { p =>
      Files.write(Paths.get(p), tr.spansJson.getBytes(StandardCharsets.UTF_8))
    }
}
