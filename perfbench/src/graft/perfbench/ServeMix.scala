package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.Warehouse
import graft.etl.{EtlJob, StarSchema}
import graft.ml.Forecast
import graft.queries.ServingQueries
import graft.serving.{CrudTable, Serve}

/** One HTTP request of the mix and the check its response must pass. */
final case class Req(route: String, method: String, path: String, body: String,
    write: Boolean, check: (Int, JsonNode) => Option[String])

final case class Sample(route: String, write: Boolean, ms: Double)

/** `serve_mix`: clients over HTTP against `Serve.start(EtlJob.run(fixture))`
  * on a seeded WHO-shaped fixture of the reference's size (240 countries ×
  * 261 weekly reports, 215 vaccination rows, 1,105 metadata rows).
  *
  * A sweep sends every read route group once with seeded parameters, plus
  * one CRUD write (POST, PUT or DELETE) and a GET verifying the written
  * state for each of two clients — about one request in ten is a write.
  * Four closed-loop clients split a sweep; the measured phase repeats
  * sweeps. Every response is checked for status and envelope, and totals
  * are checked against the generator's sums.
  */
object ServeMix {
  val Clients = 4
  val Countries = 240
  val Weeks = 261
  val SetupReps = 3
  private val M = new ObjectMapper()
  private val tables = Seq("who_region", "country", "disease", "vaccine", "weekly_statistics",
    "daily_vaccine_statistics")

  private def sumOf(arr: JsonNode, field: String): Long =
    arr.elements().asScala.map(_.path(field).asLong()).sum

  private def expect(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  /** The route groups of sweep `k`, with seeded country codes and page.
    * The table and the graph metric, whose costs
    * differ several-fold, rotate with `k` instead, so every run's k-th sweep
    * costs the same.
    */
  private def readGroups(t: WhoTotals, r: Random, k: Int): Seq[Req] = {
    val code = t.codes(r.nextInt(t.codes.length))
    val vacc = t.countryShots.keys.toSeq.sorted
    def arr(route: String, path: String, n: Long, field: String = "", total: Long = 0) =
      Req(route, "GET", path, "", write = false, (s, j) =>
        expect(s == 200 && j.isArray && j.size == n &&
          (field.isEmpty || sumOf(j, field) == total),
          s"$path: status $s, ${j.size} rows, expected $n" +
            (if (field.nonEmpty) s" summing $field to $total, got ${sumOf(j, field)}" else "")))
    def data(route: String, path: String, n: Long, total: Long) =
      Req(route, "GET", path, "", write = false, (s, j) => {
        val d = j.path("data")
        expect(s == 200 && d.isArray && d.size == n && sumOf(d, "value") == total,
          s"$path: status $s, ${d.size} rows summing to ${sumOf(d, "value")}, " +
            s"expected $n rows summing to $total")
      })
    val metric = Seq("cases", "deaths", "vaccinated")(k % 3)
    val graphCode = if (metric == "vaccinated") vacc(r.nextInt(vacc.length)) else code
    val graphTotal = metric match {
      case "cases"  => t.countryCases(graphCode)
      case "deaths" => t.countryDeaths(graphCode)
      case _        => t.countryShots(graphCode)
    }
    val page = 1 + r.nextInt(4)
    val table = tables(k % tables.length)
    val tableRows = Map("who_region" -> t.regionCodes.toLong, "country" -> t.codes.length.toLong,
      "disease" -> 1L, "vaccine" -> (t.vaccineNames + 1L), "weekly_statistics" -> t.weekRows,
      "daily_vaccine_statistics" -> t.vaccineRows.toLong)(table)
    def top5(j: JsonNode, key: String, field: String, want: Seq[(String, Long)]) = {
      val got = j.path(key).elements().asScala.map(n =>
        n.path("country_name").asText() -> n.path(field).asLong()).toSeq
      expect(got == want, s"$key: $got, expected $want")
    }
    Seq(
      arr("total_cases", "/api/total_cases", 1, "total_weekly_cases", t.cases),
      arr("total_deaths", "/api/total_deaths", 1, "total_weekly_deaths", t.deaths),
      arr("total_vaccines", "/api/total_vaccines", 1, "total_reported_shots", t.vaccinations),
      arr("who_region", "/api/who_region", t.regionCodes),
      arr("country", "/api/country", t.codes.length),
      arr("disease", "/api/disease", 1),
      arr("vaccine", "/api/vaccine", t.vaccineNames + 1),
      data("worldmap.cases", "/api/worldmap/cases", t.codes.length, t.cases),
      data("worldmap.deaths", "/api/worldmap/deaths", t.codes.length, t.deaths),
      data("worldmap.vaccinated", "/api/worldmap/vaccinated", vacc.length, t.vaccinations),
      arr("weekly_statistics_by_country", s"/api/weekly_statistics_by_country?country_code=$code",
        t.countryWeeks(code), "confirmed_cases", t.countryCases(code)),
      Req("graph.country", "GET", s"/api/graph/country/$metric?country=$graphCode", "",
        write = false, (s, j) => {
          val d = j.path("data")
          expect(s == 200 && d.isArray && d.size > 0 && sumOf(d, "value") == graphTotal,
            s"graph/country/$metric $graphCode: status $s, sum ${sumOf(d, "value")}, " +
              s"expected $graphTotal")
        }),
      Req("weekly_statistics_total", "GET", s"/api/weekly_statistics_total?page=$page&limit=50",
        "", write = false, (s, j) => {
          val pages = (t.weekRows + 49) / 50
          expect(s == 200 && j.path("page").asInt() == page && j.path("limit").asInt() == 50 &&
            j.path("total_rows").asLong() == t.weekRows &&
            j.path("total_pages").asLong() == pages && j.path("data").size == 50,
            s"weekly_statistics_total page $page: envelope $j".take(300))
        }),
      Req("top5_summary", "GET", "/api/top5_summary", "", write = false, (s, j) =>
        expect(s == 200, s"top5_summary: status $s")
          .orElse(top5(j, "top5_deaths", "total_deaths", t.top5(t.countryDeaths)))
          .orElse(top5(j, "top5_cases", "total_cases", t.top5(t.countryCases)))),
      Req("table", "GET", s"/api/table/$table", "", write = false, (s, j) =>
        expect(s == 200 && j.path(table).size == math.min(100L, tableRows),
          s"table/$table: status $s, ${j.path(table).size} rows, expected ${math.min(100L, tableRows)}")),
    )
  }

  /** Client `c`'s n-th write and the GET that must see its result. */
  private def writeOps(c: Int, n: Int): Seq[Req] = {
    val k = n / 3
    val country = k % 2 == 0
    val (base, key, pkJson) =
      if (country) { val id = s"ZZ-$c-$k"; ("/country_statistics", id, s""""country":"$id"""") }
      else {
        val reg = s"RG-$c-$k"
        ("/region_yearly_summary", s"$reg/${2020 + k % 5}",
          s""""who_region":"$reg","year":${2020 + k % 5}""")
      }
    val cases = 1000L * c + 7L * k + n
    val route = if (country) "crud.country_statistics" else "crud.region_yearly_summary"
    def verify(wantCases: Option[Long]) = Req(s"$route.get", "GET", s"$base/$key", "",
      write = false, (s, j) => wantCases match {
        case None    => expect(s == 404, s"GET $base/$key after DELETE: status $s")
        case Some(v) => expect(s == 200 && j.path("total_cases").asLong() == v,
          s"GET $base/$key: status $s, body $j, expected total_cases $v")
      })
    n % 3 match {
      case 0 => Seq(
        Req(route, "POST", base, s"{$pkJson,\"total_cases\":$cases}", write = true,
          (s, _) => expect(s == 201, s"POST $base $key: status $s")),
        verify(Some(cases)))
      case 1 => Seq(
        Req(route, "PUT", s"$base/$key", s"""{"total_cases":$cases}""", write = true,
          (s, _) => expect(s == 200, s"PUT $base/$key: status $s")),
        verify(Some(cases)))
      case _ => Seq(
        Req(route, "DELETE", s"$base/$key", "", write = true,
          (s, _) => expect(s == 200, s"DELETE $base/$key: status $s")),
        verify(None))
    }
  }

  private final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def send(q: Req): (Int, JsonNode) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path}"))
        .timeout(Duration.ofSeconds(60))
      val req = q.method match {
        case "GET"    => b.GET()
        case "DELETE" => b.DELETE()
        case m        => b.header("Content-Type", "application/json")
            .method(m, HttpRequest.BodyPublishers.ofString(q.body))
      }
      val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
      val body = try M.readTree(resp.body()) catch { case _: Exception => M.nullNode() }
      resp.statusCode() -> body
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result
    val r = new Random(ctx.seed)
    var totals: WhoTotals = null
    var star: StarSchema = null
    var server: com.sun.net.httpserver.HttpServer = null
    var whoDir = ""
    val writeCount = Array.fill(Clients)(0)
    var sweepNo = 0

    /** Sends `q`, checks the response outside the timed region. */
    def timed(cl: Client, q: Req): Sample = {
      val t0 = Probe.now()
      val (status, body) =
        try cl.send(q)
        catch { case e: Exception => (-1, M.nullNode()) }
      val ms = Probe.secSince(t0) * 1e3
      res.attempted += 1
      q.check(status, body).foreach(res.fail)
      Sample(q.route, q.write, ms)
    }

    /** One sweep split across the clients; returns its samples, wall and CPU. */
    def sweep(): (Seq[Sample], Double, Double) = {
      // a fixed route order and client assignment: only parameters vary by
      // seed, so the queueing pattern of a sweep is the same in every run
      val reads = readGroups(totals, r, sweepNo)
      sweepNo += 1
      val writers = (0 until Clients).filter(c => (writeCount.sum + c) % 2 == 0).take(2)
      val writes = writers.map { c => writeCount(c) += 1; writeOps(c, writeCount(c) - 1) }
      // each client: its share of the reads, then (for writers) write + verify
      val queues = (0 until Clients).map(i => reads.zipWithIndex.collect {
        case (q, k) if k % Clients == i => q
      }).toArray
      writes.zipWithIndex.foreach { case (w, i) => queues(i) = queues(i) ++ w }
      val pool = Executors.newFixedThreadPool(Clients)
      val c0 = Probe.cpuSec()
      val t0 = Probe.now()
      try {
        val futures = queues.toSeq.map(qs => pool.submit(new Callable[Seq[Sample]] {
          def call(): Seq[Sample] = { val cl = new Client(port); qs.map(timed(cl, _)) }
        }))
        val samples = futures.flatMap(_.get(170, TimeUnit.SECONDS))
        (samples, Probe.secSince(t0), Probe.cpuSec() - c0)
      } finally { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
    }
    def port = server.getAddress.getPort

    // --- setup: fixture, ETL lineage and server, several times; then one
    // checked warm-up sweep on the last server -------------------------------
    val setupSec = (1 to SetupReps).map { rep =>
      val t0 = Probe.now()
      if (server != null) server.stop(0)
      val dir = ctx.dir(s"who-$rep")
      totals = WhoGen.write(dir, ctx.seed, Countries, Weeks, stepDays = 7)
      whoDir = dir
      star = EtlJob.run(spark, dir)
      server = Serve.start(star, 0)
      Probe.secSince(t0)
    }
    // the traced run's forecast trains on the weeks before a seeded cutoff
    val cutoff = totals.firstDate.plusDays(7L * (60 + r.nextInt(Weeks - 70))).toString
    // the warm-up is a whole 4-client sweep, writes included, so the CRUD
    // path is warm too; the first measured sweep repeats its route variants
    val warmupSec = {
      val t0 = Probe.now()
      sweep()
      sweepNo = 0
      Probe.secSince(t0)
    }
    res.metric("setup_s", Stats.median(setupSec) + warmupSec, "s")
    res.record("setup_reps_s") = setupSec
    res.record("warmup_s") = warmupSec

    def sweeps(seconds: Double) = {
      val until = Probe.now() + (seconds * 1e9).toLong
      val out = mutable.ArrayBuffer(sweep())
      while (Probe.now() + (out.last._2 * 1e9).toLong <= until) out += sweep()
      out.toSeq
    }
    def readMs(ss: Seq[(Seq[Sample], Double, Double)]) = ss.flatMap(_._1).filterNot(_.write).map(_.ms)

    try {
      if (!ctx.trace) {
        val ss = sweeps(ctx.seconds)
        val reads = readMs(ss)
        val writes = ss.flatMap(_._1).filter(_.write).map(_.ms)
        val n = ss.map(_._1.length).sum
        val q = Stats.tailQuantile(reads.length, Seq(0.9, 0.8, 0.75))
        res.metric("wall_s", Stats.median(ss.map(_._2)), "s")
        res.metric("cpu_s", Stats.median(ss.map(_._3)), "s")
        res.metric("retained_heap_mb", Probe.retainedHeapMb(), "MB")
        // a sweep has a fixed request count, so `serve_rps` is `wall_s`
        // restated; the read latencies are few samples of mixed cost
        res.metric("serve_rps", n / ss.map(_._2).sum, "1/s")
        res.metric("serve_mean_ms", reads.sum / reads.length, "ms")
        res.metric("serve_p50_ms", Stats.median(reads), "ms")
        res.metric("serve_p90_ms", Stats.quantile(reads, q), "ms")
        writes.headOption.foreach(_ => res.metric("serve_write_p50_ms", Stats.median(writes), "ms"))
        res.metric("serve_cpu_ms_per_req", ss.map(_._3).sum * 1e3 / n, "ms")
        res.record("sweep_wall_s") = ss.map(_._2)
        res.record("sweep_cpu_s") = ss.map(_._3)
        res.record("requests") = n
        res.record("read_samples") = reads.length
        res.record("p90_ms_quantile") = q
        res.record("write_samples") = writes.length
        res.record("route_ms") = ss.flatMap(_._1).groupBy(_.route).map { case (k, xs) =>
          k -> Stats.median(xs.map(_.ms)) }
      } else traced(ctx, res, star, totals, cutoff, r, whoDir, sweeps)
    } finally server.stop(0)
    res
  }

  /** Traced run: 4-client sweeps without, with and again without the
    * listener (overhead, queueing), then the serving functions called
    * in-process inside spans (build, plan, collect; CRUD writes; forecast
    * fit and predict; the ETL behind the star).
    */
  private def traced(ctx: Ctx, res: Result, star: StarSchema, totals: WhoTotals,
      cutoff: String, r: Random, whoDir: String,
      sweeps: Double => Seq[(Seq[Sample], Double, Double)]): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    // the untraced sweeps bracket the traced ones, so warm-up drift cancels
    val plainA = sweeps(ctx.seconds * 0.25)
    val tr = new Tracer(sc, s"${ctx.workload}-${ctx.seed}")
    sc.addSparkListener(tr)
    val four = sweeps(ctx.seconds * 0.25)
    sc.removeSparkListener(tr)
    val plainB = sweeps(ctx.seconds * 0.25)
    sc.addSparkListener(tr)

    // in-process: the serving functions behind each route group
    val direct: Seq[(String, () => Seq[DataFrame])] = {
      val code = totals.codes(r.nextInt(totals.codes.length))
      Serve.routes(star).toSeq.sortBy(_._1).collect {
        case (p, f) if !p.endsWith("daily_vaccine_statistics") && !p.endsWith("/weekly_statistics") =>
          p.stripPrefix("/api/") -> (() => Seq(f(Map("country_code" -> code))))
      } ++ Serve.dataRoutes(star).toSeq.sortBy(_._1).collect {
        case (p, f) if p.contains("worldmap") => p.stripPrefix("/api/").replace('/', '.') -> (() => Seq(f(Map.empty)))
      } ++ Seq(
        "graph.country" -> (() => Seq(ServingQueries.graphCountry(star, code, "cases"))),
        "weekly_statistics_total" -> (() => {
          ServingQueries.weeklyStatisticsTotalRows(star)
          Seq(ServingQueries.weeklyStatisticsTotal(star, 1 + r.nextInt(4), 50))
        }),
        "top5_summary" -> (() => Seq(ServingQueries.top5Deaths(star), ServingQueries.top5Cases(star))),
        "table" -> (() => Seq(Warehouse.tableScan(spark, tables(r.nextInt(tables.length)), 100))),
      )
    }
    val t0 = Probe.now()
    val gc0 = Probe.gcSec()
    val spansDirect = direct.map { case (route, f) =>
      tr.span(s"request:$route") {
        val (dfs, b) = tr.span(s"build:$route")(f())
        val (_, p) = tr.span(s"plan:$route")(dfs.foreach(_.queryExecution.executedPlan))
        val (_, c) = tr.span(s"collect:$route")(dfs.foreach(d => Warehouse.jsonRecords(d).collect()))
        (b, p, c)
      }._1
    }
    val directWall = Probe.secSince(t0)
    val directGc = Probe.gcSec() - gc0
    val crud = new CrudTable(spark, Serve.countryStatisticsSchema, Seq("country"))
    val crudSpans = (0 until 2).map { i =>
      tr.span("crud.write") {
        if (i % 2 == 0) crud.put(Seq(s"TR-$i", i.toLong, 1L)) else crud.delete(Seq(s"TR-${i - 1}"))
      }._2
    }
    val weekly = star.weeklyStatistics.localCheckpoint()
    val (model, fitSpan) = tr.span("forecast.fit") {
      val series = weekly.filter(col("date_of_report") < lit(cutoff))
      Forecast.train(Forecast.lagFeatures(series, "country_short_code", "date_of_report",
        "week_new_reported_cases"), "week_new_reported_cases")._1
    }
    val predictSpans = totals.codes.take(2).map { code =>
      tr.span("forecast.predict") {
        val hist = weekly.filter(col("country_short_code") === code &&
          col("date_of_report") < lit(cutoff))
          .select(col("date_of_report"), col("week_new_reported_cases").cast("double"))
          .collect().map(x => (x.getDate(0).getTime, x.getDouble(1))).sortBy(_._1)
        Forecast.autoregressive(model, hist.takeRight(2 * Forecast.NumLags).map(_._2).toSeq, 8)
      }
    }
    predictSpans.foreach { case (p, _) =>
      res.check(p.length == 8 && p.forall(x => !x.isNaN && !x.isInfinite),
        s"forecast: ${p.length} predictions ${p.take(8)}, expected 8 finite values")
    }
    // the ETL layer behind the served star: EtlJob.run + EtlJob.write
    val etlWall = {
      val t = Probe.now()
      val (s, _) = tr.span("etl.build")(EtlJob.run(spark, whoDir))
      tr.span("etl.write")(EtlJob.write(s, ctx.dir("warehouse-traced")))
      Probe.secSince(t)
    }
    sc.removeSparkListener(tr)
    EtlLoad.layers(tr, etlWall, ctx.cpus)._1
      .foreach { case (k, (v, u)) => res.metric(k, v, u) }

    def ms(ids: Seq[Long]) = Stats.median(ids.map(tr.seconds(_) * 1e3))
    val builds = spansDirect.map(_._1); val plans = spansDirect.map(_._2)
    val collects = spansDirect.map(_._3)
    val sweepWork = new Work
    (builds ++ plans ++ collects).foreach(i => sweepWork += tr.workOf(i))
    // per in-process request: route, its spans' work, its latency in ms
    val perReq = direct.map(_._1).zip(spansDirect).map { case (route, (b, p, c)) =>
      val w = new Work
      Seq(b, p, c).foreach(i => w += tr.workOf(i))
      (route, w, (tr.seconds(b) + tr.seconds(p) + tr.seconds(c)) * 1e3)
    }
    val fourReads = four.flatMap(_._1).filterNot(_.write).map(_.ms)
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "serve.build_ms" -> (ms(builds), "ms"),
      "serve.plan_ms" -> (ms(plans), "ms"),
      "serve.collect_ms" -> (ms(collects), "ms"),
      "serve.jobs_per_req" -> (Stats.median(perReq.map(_._2.jobs.toDouble)), "count"),
      "serve.task_cpu_ms_per_req" -> (perReq.map(_._2.taskCpuSec).sum * 1e3 / perReq.length, "ms"),
      "serve.wait_ms" -> (Stats.median(fourReads) - Stats.median(perReq.map(_._3)), "ms"),
      "crud.write_ms" -> (ms(crudSpans), "ms"),
      "crud.write_jobs" -> (Stats.median(crudSpans.map(tr.workOf(_).jobs.toDouble)), "count"),
      "forecast.fit_s" -> (tr.seconds(fitSpan), "s"),
      "forecast.predict_ms" -> (ms(predictSpans.map(_._2)), "ms"),
      "build_s" -> (builds.map(tr.seconds).sum, "s"),
      "build_jobs" -> (builds.map(tr.workOf(_).jobs).sum.toDouble, "count"),
      "plan_s" -> (plans.map(tr.seconds).sum, "s"),
      "exec_s" -> (collects.map(tr.seconds).sum, "s"),
      "exec_jobs" -> (collects.map(tr.workOf(_).jobs).sum.toDouble, "count"),
      "stages" -> (sweepWork.stages.toDouble, "count"),
      "tasks" -> (sweepWork.tasks.toDouble, "count"),
      "task_cpu_s" -> (sweepWork.taskCpuSec, "s"),
      "shuffle_write_mb" -> (sweepWork.shuffleWriteMb, "MB"),
      "spill_mb" -> (sweepWork.spillMb, "MB"),
      "gc_s" -> (directGc, "s"),
      "idle_core_share" -> (1 - sweepWork.taskRunSec / (directWall * ctx.cpus), "ratio"),
      "stage_skew" -> (sweepWork.stageSkew, "ratio"),
      "trace_ratio" -> (Stats.median(four.map(_._2)) / Stats.median((plainA ++ plainB).map(_._2)), "ratio"),
    )
    perReq.foreach { case (route, w, ms) =>
      m(s"route_ms.$route") = (ms, "ms")
      m(s"jobs.$route") = (w.jobs.toDouble, "count")
    }
    m.foreach { case (k, (v, u)) => res.metric(k, v, u) }
    Layers.writeSpans(ctx, tr)
  }
}
