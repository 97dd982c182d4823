package graft.serving

import java.net.{HttpURLConnection, URI}
import scala.io.Source

import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, WhoFixture}
import graft.etl.EtlJob

/** The HTTP shell must return exactly what the underlying DataFrame
  * functions return — same rows, same JSON encoding — plus the Flask
  * surface's contract details route by route: the plain-array `fetch_data`
  * shape, the `{"data": …}` wrapper, the pagination envelope
  * (data.py:172-178), the top5 two-list summary, path-parameterized
  * graph/table routes, the forecast + metrics ML surfaces, and the Swagger
  * CRUD app's create→read→update→delete lifecycle (api/api_crud.py).
  *
  * None of these contracts depends on what the WHO data holds, so the star
  * is built from the reference CSVs when they are mounted and otherwise from
  * the FIXTURES.md §A-shaped trio [[graft.WhoFixture]] writes. The
  * `model=lstm` test also needs the committed LSTM checkpoint and label
  * encoder, which only the reference mount provides.
  */
class ServeSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  lazy val star = EtlJob.run(spark, WhoFixture.dir(referenceDataDir))
  lazy val population = {
    import spark.implicits._
    Seq(("FR", 2023, 68000000L), ("DE", 2023, 83000000L))
      .toDF("country_code", "year", "population")
  }
  lazy val agg = graft.queries.ServingQueries.factAggregates(star)
  @volatile private var started: Option[HttpServer] = None
  lazy val server = {
    val s = Serve.start(star, port = 0, population = Some(population))
    started = Some(s)
    s
  }

  // stops the server only if a test started it
  override def afterAll(): Unit =
    try started.foreach(_.stop(0))
    finally super.afterAll()

  private def request(method: String, path: String, body: Option[String] = None): (Int, String) = {
    val url = URI.create(
      s"http://localhost:${server.getAddress.getPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val resp = Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, resp)
  }

  private def get(path: String): (Int, String) = request("GET", path)

  private def direct(df: org.apache.spark.sql.DataFrame): String =
    graft.Warehouse.jsonRecords(df).collect().mkString("[", ",", "]")

  /** Count Spark jobs started while `body` runs (listener-bus drained). */
  private def sparkJobs(body: => Unit): Int =
    graft.util.QueryProfile.measure(spark)(body)._2.jobs

  test("health probe answers like the reference's /health") {
    assert(get("/health") == (200, """{"status":"running"}"""))
  }

  test("metric endpoint body == jsonRecords of the DataFrame it wraps") {
    val (code, body) = get("/api/total_cases")
    assert(code == 200)
    assert(body == direct(graft.queries.ServingQueries.totalCases(agg)))
  }

  test("every per-table scan route serves its star table") {
    for ((route, df) <- Seq(
        "/api/who_region" -> star.whoRegion,
        "/api/country" -> star.country,
        "/api/disease" -> star.disease,
        "/api/vaccine" -> star.vaccine,
        "/api/daily_vaccine_statistics" -> star.dailyVaccineStatistics,
        "/api/weekly_statistics" -> star.weeklyStatistics)) {
      val (code, body) = get(route)
      assert(code == 200, route)
      assert(body == direct(df), route)
    }
  }

  test("paged endpoint returns the reference's pagination envelope") {
    val (code, body) = get("/api/weekly_statistics_total?page=2&limit=5")
    assert(code == 200)
    val data = direct(graft.queries.ServingQueries
      .weeklyStatisticsTotal(star, agg, page = 2, limit = 5))
    val totalRows = graft.queries.ServingQueries.weeklyStatisticsTotalRows(star)
    val totalPages = math.ceil(totalRows.toDouble / 5).toInt
    assert(body ==
      s"""{"page":2,"limit":5,"total_pages":$totalPages,"total_rows":$totalRows,"data":$data}""")
  }

  test("evolution + worldmap routes use the {data: ...} wrapper") {
    for ((route, df) <- Seq(
        "/api/covid_cases_evolution" ->
          graft.queries.ServingQueries.covidCasesEvolution(star),
        "/api/vaccinations_evolution" ->
          graft.queries.ServingQueries.vaccinationsEvolution(star),
        "/api/worldmap/cases" -> graft.queries.ServingQueries.worldmapCases(agg),
        "/api/worldmap/deaths" -> graft.queries.ServingQueries.worldmapDeaths(agg),
        "/api/worldmap/vaccinated" ->
          graft.queries.ServingQueries.worldmapVaccinated(agg))) {
      val (code, body) = get(route)
      assert(code == 200, route)
      assert(body == s"""{"data":${direct(df)}}""", route)
    }
  }

  test("top5_summary returns the two-list envelope") {
    val (code, body) = get("/api/top5_summary")
    assert(code == 200)
    assert(body ==
      s"""{"top5_deaths":${direct(graft.queries.ServingQueries.top5Deaths(agg))},"top5_cases":${direct(graft.queries.ServingQueries.top5Cases(agg))}}""")
  }

  test("country_covid_rates joins the provided population input") {
    val (code, body) = get("/api/country_covid_rates")
    assert(code == 200)
    assert(body == s"""{"data":${direct(
      graft.queries.ServingQueries.countryCovidRates(star, population))}}""")
  }

  test("graph/country/<metric> is path-parameterized with the reference's guards") {
    val (code, body) = get("/api/graph/country/cases?country=FR")
    assert(code == 200)
    assert(body == s"""{"data":${direct(
      graft.queries.ServingQueries.graphCountry(star, "FR", "cases"))}}""")
    // vaccinated maps to the daily-shots series (graph.py METRIC_MAP intent)
    assert(get("/api/graph/country/vaccinated?country=FR")._1 == 200)
    assert(get("/api/graph/country/cases")._1 == 400) // missing country
    assert(get("/api/graph/country/nonsense?country=FR")._1 == 400)
    assert(get("/api/graph/country/cases?country=ZZ")._1 == 404) // no rows
  }

  test("table/<name> serves a capped scan in the {name: rows} envelope") {
    val (code, body) = get("/api/table/disease")
    assert(code == 200)
    assert(body.startsWith("""{"disease":["""))
    assert(get("/api/table/no_such_table")._1 == 500)
    // the reference's injection hole is closed: a crafted name is unknown
    assert(get("/api/table/disease;%20DROP%20TABLE%20x")._1 == 500)
  }

  test("encoding probe reports UTF-8 like the reference's Postgres probe") {
    assert(get("/api/encoding") ==
      (200, """{"server_encoding":"UTF8","client_encoding":"UTF8"}"""))
  }

  test("predicted_weekly_statistics serves the forecastAll output table") {
    val (code, body) = get("/api/predicted_weekly_statistics")
    assert(code == 200, body)
    assert(body.startsWith("""[{"country_short_code":"""))
    assert(body.contains("\"predicted_week_new_reported_cases\":"))
  }

  test("metrics reports the RF R2/RMSE envelope") {
    val (code, body) = get("/api/metrics")
    assert(code == 200)
    assert(body.matches("""\{"R2":-?[0-9.]+,"RMSE":[0-9.]+\}"""), body)
  }

  test("predict_cases forecasts with the reference's envelope and guards") {
    val (code, body) = get("/api/predict_cases?country=FR&start_date=2023-06-01&days=3")
    assert(code == 200, body)
    assert(body.startsWith("""{"country":"FR","start_date":"2023-06-01","days":3,"predictions":["""))
    assert(body.count(_ == '{') == 4) // envelope + 3 prediction rows
    assert(body.contains("\"predicted_cases\":"))
    assert(get("/api/predict_cases?country=FR")._1 == 400) // missing start_date
    // history shorter than the lookback → 400, like the reference's guard
    assert(get("/api/predict_cases?country=FR&start_date=2019-01-01&days=3")._1 == 400)
    // pd.to_datetime-style loose layouts parse (round-9 advice): same
    // cutoff, same predictions as the ISO spelling
    val (codeSlash, bodySlash) =
      get("/api/predict_cases?country=FR&start_date=2023/06/01&days=3")
    assert(codeSlash == 200, bodySlash)
    assert(bodySlash.substring(bodySlash.indexOf("\"predictions\"")) ==
      body.substring(body.indexOf("\"predictions\"")))
    // unparsable stays a 400
    assert(get("/api/predict_cases?country=FR&start_date=junk&days=3")._1 == 400)
    // ONE Spark action per warm request (round-9 verdict #5): the model is
    // cached per cutoff and the count guard / rollout tail / last-known
    // date all derive from the single bounded collect of FR's series
    val jobs = sparkJobs {
      assert(get("/api/predict_cases?country=FR&start_date=2023-06-01&days=3")._1 == 200)
    }
    assert(jobs == 1,
      s"warm RF serving ran $jobs Spark jobs; expected one bounded collect")
  }

  test("predicted_weekly_statistics is one job per warm request") {
    assert(get("/api/predicted_weekly_statistics")._1 == 200) // builds + checkpoints
    val jobs = sparkJobs {
      assert(get("/api/predicted_weekly_statistics")._1 == 200)
    }
    assert(jobs == 1,
      s"warm predicted_weekly_statistics ran $jobs Spark jobs; expected one " +
        "collect over the localCheckpoint-ed forecast table")
  }

  test("predict_cases model=lstm serves the committed reference weights") {
    // without a configured feed: explicit 503, not a crash
    sys.props.remove("graft.owid.csv")
    assert(get("/api/predict_cases?country=France&start_date=2020-06-01&model=lstm")._1 == 503)
    // committed owid-shaped fixture: 70 daily France rows
    // (2020-03-01…2020-05-09) inside the reference's 2020-2022 window
    // (≥ 50-row lookback) — see src/test/resources/owid_fixture.csv
    val csv = new java.io.File("src/test/resources/owid_fixture.csv")
    assert(csv.isFile, s"missing fixture: ${csv.getAbsolutePath}")
    sys.props("graft.owid.csv") = csv.getAbsolutePath
    try {
      // mid-series start_date: rows at/after it exist (and, being the
      // series max, move the full-series scaler — the reference fit)
      val (code, body) = get(
        "/api/predict_cases?country=France&start_date=2020-05-01&days=3&model=lstm")
      assert(code == 200, body)
      assert(body.startsWith(
        """{"country":"France","start_date":"2020-05-01","days":3,"predictions":["""))
      // daily grain: first forecast date = last row BEFORE start_date
      // (2020-04-30) + 1 day — the reference's last_known_date convention
      assert(body.contains(""""date":"2020-05-01""""), body)
      assert(body.count(_ == '{') == 4)
      // GOLDEN end-to-end pin on the committed weights + fixture (values
      // frozen from the verified loader/cell math; a regression anywhere in
      // CSV prep → filter → scaler → rollout → inverse transform surfaces
      // as a value diff here). ±1 on the truncated integers: Math.exp/tanh
      // are not bit-identical across JVM vendors/CPUs, and a 1-ulp shift
      // near an integer boundary must not flake the suite (round-9 advice —
      // same posture as LstmSpec's 1e-4 relative bound).
      val goldenCases = Seq(1441L, 1155L, 1129L)
      val gotCases = """"predicted_cases":(-?\d+)""".r
        .findAllMatchIn(body).map(_.group(1).toLong).toSeq
      assert(gotCases.size == goldenCases.size, body)
      gotCases.zip(goldenCases).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1,
          s"predicted_cases $g vs golden $w (±1 platform tolerance): $body")
      }
      // ONE Spark action per request: dates ride the history collect (no
      // second max(date) job), and the bounded series sorts driver-side
      // (no distributed-sort sampling/shuffle jobs)
      val jobs = sparkJobs(assert(get(
        "/api/predict_cases?country=France&start_date=2020-05-01&days=3&model=lstm")._1 == 200))
      assert(jobs == 1, s"LSTM serving ran $jobs Spark jobs; expected one action")
      // unknown country → 400; too-short history → 400
      assert(get("/api/predict_cases?country=Atlantis&start_date=2020-05-01&model=lstm")._1 == 400)
      assert(get("/api/predict_cases?country=Italy&start_date=2020-05-01&model=lstm")._1 == 400)
      // the reference's date guards (predict_france_with_model.py:78-80):
      // no row at/after start_date → 400; start index inside the lookback
      // → 400; unparsable date → 400
      assert(get("/api/predict_cases?country=France&start_date=2020-06-01&model=lstm")._1 == 400)
      assert(get("/api/predict_cases?country=France&start_date=2020-03-10&model=lstm")._1 == 400)
      assert(get("/api/predict_cases?country=France&start_date=junk&model=lstm")._1 == 400)
    } finally {
      sys.props.remove("graft.owid.csv")
    }
  }

  test("openapi.json documents the CRUD + forecast surface as valid JSON") {
    val (code, body) = get("/openapi.json")
    assert(code == 200)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    assert(node.get("openapi").asText().startsWith("3."))
    val paths = node.get("paths")
    for (p <- Seq("/country_statistics", "/country_statistics/{country}",
        "/region_yearly_summary", "/region_yearly_summary/{who_region}/{year}",
        "/api/predict_cases", "/health"))
      assert(paths.has(p), s"missing path $p")
    assert(node.get("components").get("schemas").has("CountryStatistics"))
    assert(get("/apidocs")._1 == 200)
  }

  test("missing required param is a 400, unknown route a 404") {
    assert(get("/api/weekly_statistics_by_country")._1 == 400)
    assert(get("/api/does_not_exist")._1 == 404)
  }

  test("CRUD lifecycle: create → read → update → delete → 404, both tables") {
    // country_statistics (single PK)
    assert(get("/country_statistics") == (200, "[]"))
    val (c1, _) = request("POST", "/country_statistics",
      Some("""{"country":"France","total_cases":12000,"total_vaccinated":3000}"""))
    assert(c1 == 201)
    val (c2, _) = request("POST", "/country_statistics",
      Some("""{"country":"Spain","total_cases":500}""")) // missing field → 0
    assert(c2 == 201)
    assert(request("POST", "/country_statistics",
      Some("""{"total_cases":1}"""))._1 == 400) // no PK
    assert(get("/country_statistics/France") ==
      (200, """{"country":"France","total_cases":12000,"total_vaccinated":3000}"""))
    assert(get("/country_statistics/Spain") ==
      (200, """{"country":"Spain","total_cases":500,"total_vaccinated":0}"""))
    // partial update: only total_cases changes
    assert(request("PUT", "/country_statistics/France",
      Some("""{"total_cases":15000}"""))._1 == 200)
    assert(get("/country_statistics/France") ==
      (200, """{"country":"France","total_cases":15000,"total_vaccinated":3000}"""))
    assert(request("PUT", "/country_statistics/Atlantis",
      Some("""{"total_cases":1}"""))._1 == 404)
    // list is PK-ordered
    val (_, all) = get("/country_statistics")
    assert(all ==
      """[{"country":"France","total_cases":15000,"total_vaccinated":3000},{"country":"Spain","total_cases":500,"total_vaccinated":0}]""")
    assert(request("DELETE", "/country_statistics/Spain")._1 == 200)
    assert(get("/country_statistics/Spain")._1 == 404)
    assert(request("DELETE", "/country_statistics/Spain")._1 == 404)

    // region_yearly_summary (composite PK who_region/year)
    assert(request("POST", "/region_yearly_summary",
      Some("""{"who_region":"EURO","year":2021,"total_cases":100,"total_deaths":5}"""))._1 == 201)
    assert(get("/region_yearly_summary/EURO/2021") ==
      (200, """{"who_region":"EURO","year":2021,"total_cases":100,"total_deaths":5}"""))
    assert(get("/region_yearly_summary/EURO/1999")._1 == 404)
    assert(request("PUT", "/region_yearly_summary/EURO/2021",
      Some("""{"total_deaths":7}"""))._1 == 200)
    assert(get("/region_yearly_summary/EURO/2021") ==
      (200, """{"who_region":"EURO","year":2021,"total_cases":100,"total_deaths":7}"""))
    assert(request("DELETE", "/region_yearly_summary/EURO/2021")._1 == 200)
    assert(get("/region_yearly_summary") == (200, "[]"))
  }
}
