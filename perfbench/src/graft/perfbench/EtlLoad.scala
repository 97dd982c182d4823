package graft.perfbench

import org.apache.spark.sql.functions.{col, countDistinct, sum}

import graft.etl.EtlJob

/** `etl_load`: `EtlJob.run` + `EtlJob.write` over a seeded daily-cadence
  * WHO feed — CSV parsing, the star build and the partitioned parquet
  * write. One pass is one full run + write; the written
  * `weekly_statistics` is checked after every pass for grain uniqueness and
  * for conservation of the generated case and death totals.
  */
object EtlLoad {
  val Countries = 240
  val Days = 1000
  val SetupReps = 3

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result
    var feed = ""
    var totals: WhoTotals = null
    val out = ctx.dir("warehouse")

    def pass(tracer: Option[Tracer]): (Double, Double, Double) = {
      val gc0 = Probe.gcSec()
      val c0 = Probe.cpuSec()
      val t0 = Probe.now()
      tracer match {
        case None => EtlJob.write(EtlJob.run(spark, feed), out)
        case Some(tr) =>
          val (star, _) = tr.span("etl.build")(EtlJob.run(spark, feed))
          tr.span("etl.plan")(star.tables.foreach(_._2.queryExecution.executedPlan))
          tr.span("etl.write")(EtlJob.write(star, out))
      }
      val r = (Probe.secSince(t0), Probe.cpuSec() - c0, Probe.gcSec() - gc0)
      verify()
      r
    }

    def verify(): Unit = {
      val ws = spark.read.parquet(s"$out/weekly_statistics")
      val row = ws.agg(
        org.apache.spark.sql.functions.count("*"),
        countDistinct(col("country_short_code"), col("date_of_report")),
        sum("week_new_reported_cases"), sum("week_new_reported_deaths")).head()
      res.check(row.getLong(0) == row.getLong(1),
        s"weekly_statistics grain: ${row.getLong(0)} rows, ${row.getLong(1)} distinct keys")
      res.check(row.getLong(0) == totals.weekRows,
        s"weekly_statistics: ${row.getLong(0)} rows, generated ${totals.weekRows} country-weeks")
      res.check(row.getLong(2) == totals.cases,
        s"case totals: ${row.getLong(2)} written, ${totals.cases} generated")
      res.check(row.getLong(3) == totals.deaths,
        s"death totals: ${row.getLong(3)} written, ${totals.deaths} generated")
    }

    val setupSec = (1 to SetupReps).map { rep =>
      val t0 = Probe.now()
      feed = ctx.dir(s"feed-$rep")
      totals = WhoGen.write(feed, ctx.seed, Countries, Days, stepDays = 1)
      pass(None)
      Probe.secSince(t0)
    }
    res.metric("setup_s", Stats.median(setupSec), "s")
    res.record("setup_reps_s") = setupSec
    res.record("feed_rows") = totals.rows
    val csv = new java.io.File(feed, "WHO-COVID-19-global-data.csv").length() / 1048576.0
    res.record("feed_mb") = csv

    def passes(seconds: Double, tracer: Option[Tracer]) = {
      val until = Probe.now() + (seconds * 1e9).toLong
      val ps = scala.collection.mutable.ArrayBuffer(pass(tracer))
      while (Probe.now() + (ps.last._1 * 1e9).toLong <= until) ps += pass(tracer)
      ps.toSeq
    }

    if (!ctx.trace) {
      val ps = passes(ctx.seconds, None)
      val walls = ps.map(_._1)
      res.metric("wall_s", Stats.median(walls), "s")
      res.metric("cpu_s", Stats.median(ps.map(_._2)), "s")
      res.metric("etl_rows_per_s", totals.rows / Stats.median(walls), "1/s")
      res.metric("retained_heap_mb", Probe.retainedHeapMb(), "MB")
      res.record("pass_wall_s") = walls
    } else {
      val sc = spark.sparkContext
      // the untraced passes bracket the traced ones, so warm-up drift cancels
      val plainA = passes(ctx.seconds / 4, None)
      val tr = new Tracer(sc, s"${ctx.workload}-${ctx.seed}")
      sc.addSparkListener(tr)
      val ps = passes(ctx.seconds / 2, Some(tr))
      sc.removeSparkListener(tr)
      val plain = plainA ++ passes(ctx.seconds / 4, None)
      val wall = Stats.median(ps.map(_._1))
      val (etl, work) = layers(tr, wall, ctx.cpus)
      def med(f: Work => Double) = Stats.median(work.map(f))
      val builds = tr.spansNamed("etl.build")
      val writes = tr.spansNamed("etl.write")
      (etl ++ Seq(
        "build_s" -> etl("etl.build_s"),
        "build_jobs" -> (Stats.median(builds.map(s => tr.workOf(s.id).jobs.toDouble)), "count"),
        "plan_s" -> (Stats.median(tr.spansNamed("etl.plan").map(s => tr.seconds(s.id))), "s"),
        "exec_s" -> etl("etl.write_s"),
        "exec_jobs" -> (Stats.median(writes.map(s => tr.workOf(s.id).jobs.toDouble)), "count"),
        "stages" -> (med(_.stages.toDouble), "count"), "tasks" -> (med(_.tasks.toDouble), "count"),
        "task_cpu_s" -> etl("etl.task_cpu_s"),
        "shuffle_write_mb" -> etl("etl.shuffle_write_mb"), "spill_mb" -> (med(_.spillMb), "MB"),
        "gc_s" -> (Stats.median(ps.map(_._3)), "s"),
        "idle_core_share" -> etl("etl.idle_core_share"),
        "stage_skew" -> (Stats.median(work.map(_.stageSkew)), "ratio"),
        "trace_ratio" -> (wall / Stats.median(plain.map(_._1)), "ratio"),
      )).foreach { case (k, (v, u)) => res.metric(k, v, u) }
      Layers.writeSpans(ctx, tr)
    }
    res
  }

  /** The ETL layer's metrics from spans `etl.build` (EtlJob.run) and
    * `etl.write` (EtlJob.write), medians over the traced passes, plus each
    * pass's combined work. `wall` is the median pass wall time.
    */
  def layers(tr: Tracer, wall: Double, cpus: Int): (Map[String, (Double, String)], Seq[Work]) = {
    val builds = tr.spansNamed("etl.build")
    val writes = tr.spansNamed("etl.write")
    val work = builds.indices.map { k =>
      val w = new Work
      w += tr.workOf(builds(k).id); w += tr.workOf(writes(k).id)
      w
    }
    def med(f: Work => Double) = Stats.median(work.map(f))
    Map(
      "etl.build_s" -> (Stats.median(builds.map(s => tr.seconds(s.id))), "s"),
      "etl.write_s" -> (Stats.median(writes.map(s => tr.seconds(s.id))), "s"),
      "etl.jobs" -> (med(_.jobs.toDouble), "count"),
      "etl.scan_tasks" -> (med(_.scanTasks.toDouble), "count"),
      "etl.task_cpu_s" -> (med(_.taskCpuSec), "s"),
      "etl.input_mb" -> (med(_.inputMb), "MB"),
      "etl.output_mb" -> (med(_.outputMb), "MB"),
      "etl.shuffle_write_mb" -> (med(_.shuffleWriteMb), "MB"),
      "etl.idle_core_share" -> (1 - med(_.taskRunSec) / (wall * cpus), "ratio"),
    ) -> work
  }
}
