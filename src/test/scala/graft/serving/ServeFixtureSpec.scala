package graft.serving

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graftaccess.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Warehouse, WhoFixture}
import graft.etl.EtlJob
import graft.queries.ServingQueries

/** Serving over a tiny WHO-shaped CSV trio written here, so it runs without
  * the reference checkout. The trio carries the FIXTURES.md §A cases the
  * routes touch: a blank `WHO_region`, null `New_cases`/`New_deaths`,
  * scientific-notation `TOTAL_VACCINATIONS`, empty and comma-joined
  * `VACCINES_USED`, padded upper-case vaccination country names, and one
  * vaccination snapshot row per country.
  *
  * Pins the serving topology: `Serve.start` materializes the star once, so
  * every read route keeps answering, byte for byte, after the CSVs are
  * deleted; the routes over its stored fact aggregates answer what
  * aggregating the star's facts answers, in a bounded number of jobs; a
  * stored route answers a repeat request with the body computed from the
  * star and runs no Spark job, within the response store's byte budget,
  * while the excluded routes and the CRUD reads compute per request; and
  * requests run on a dispatcher pool, so a client slow to send its body does
  * not hold up the others and concurrent clients each read their own writes.
  * It also pins each request's fixed costs: no delayed-ACK stall on
  * keep-alive connections, no lost write once many connections sit idle, no
  * Spark job for a CRUD request, a cold one-country key (answered from the
  * bodies pinned at start, byte for byte the `orderBy` form's body) or a
  * repeat table read of an unchanged star view, and no exchange under a
  * capped table scan. Query parameters and CRUD path keys are decoded once.
  */
class ServeFixtureSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val codes = Seq(
    ("FR", "France", "EURO"), ("DE", "Germany", "EURO"), ("BR", "Brazil", "AMRO"),
    ("XA", "Atlantis", ""), ("ZB", "Otherland", "OTHER"))
  private val weeks = 12

  /** New_cases of country `c` in week `w`; None is a blank (null) cell. */
  private def cases(c: Int, w: Int): Option[Int] =
    if ((c + w) % 4 == 0) None else Some(100 * (c + 1) + 7 * w)
  private def deaths(c: Int, w: Int): Option[Int] =
    if ((c + w) % 5 == 0) None else Some(c + w)

  private lazy val dataDir: Path = {
    val dir = Files.createTempDirectory("serve-fixture")
    val first = java.time.LocalDate.parse("2023-01-01") // a Sunday, like the WHO feed
    WhoFixture.write(dir,
      covid = for { (cc, c) <- codes.zipWithIndex; w <- 0 until weeks } yield {
        val (code, name, region) = cc
        val cum = (0 to w).flatMap(cases(c, _)).sum
        val cumD = (0 to w).flatMap(deaths(c, _)).sum
        s"${first.plusDays(7L * w)},$code,$name,$region,${cases(c, w).getOrElse("")},$cum," +
          s"${deaths(c, w).getOrElse("")},$cumD"
      },
      vaccination = Seq(
        "France,FRA,EURO,REPORTING,2023-02-01,1.5E6,1000000,20.5,15.1,900000,13.2,,2021-01-01,2,,",
        "  GERMANY ,DEU,EURO,REPORTING,2023-02-01,2.296475E7,20000000,80.1,70.2,19000000,60.3," +
          "\"Alpha, Beta\",2021-01-02,2,,",
        "Brazil,BRA,AMRO,REPORTING,2023-02-01,3.0E5,250000,1.5,1.2,200000,1.0,,2021-02-01,1,,"),
      metadata = Seq(
        "DEU,Alpha-1,Alpha,AlphaCo,2020-12-01,2020-12-20,,,REPORTING",
        "DEU,Beta-1,Beta,BetaCo,2020-12-01,2020-12-20,,,REPORTING",
        "FRA,Alpha-1,Alpha,AlphaCo,2020-12-01,2020-12-20,,,REPORTING"))
    dir
  }

  /** The ETL's lineage star over the CSVs; `Serve.start` stores its own copy. */
  private lazy val star = EtlJob.run(spark, dataDir.toString)
  private lazy val (server, store) = Serve.serve(star, port = 0, population = None)

  override def afterAll(): Unit = {
    try server.stop(0)
    finally {
      if (Files.exists(dataDir)) WhoFixture.deleteTree(dataDir)
      super.afterAll()
    }
  }

  private def request(method: String, path: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(s"http://localhost:${server.getAddress.getPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setReadTimeout(120000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    try (code, Source.fromInputStream(stream, "UTF-8").mkString)
    finally conn.disconnect()
  }

  private def get(path: String): (Int, String) = request("GET", path)

  private def queryOf(url: String): Map[String, String] =
    url.dropWhile(_ != '?').drop(1).split("&").filter(_.nonEmpty)
      .map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap

  private def url(path: String, params: Map[String, String]): String =
    if (params.isEmpty) path else params.map { case (k, v) => s"$k=$v" }.mkString(s"$path?", "&", "")

  /** The Spark jobs and SQL queries (call site and physical plan) that
    * `body` starts. */
  private def sparkWork(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val queries = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart =>
          queries.add(s"${q.description}: ${q.physicalPlanDescription}"); ()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      GraftSparkAccess.drainListenerBus(sc)
      (jobs.get(), queries.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def oneCountry(path: String): Boolean =
    path.endsWith("/weekly_statistics_by_country") || path.startsWith("/api/graph/country/")

  private def array(df: DataFrame): String =
    Warehouse.jsonRecords(df).collect().mkString("[", ",", "]")

  /** What a memoized route answers, computed straight from the lineage star
    * and its unstored aggregates. */
  private def direct(path: String, params: Map[String, String]): (Int, String) = {
    val routes = Serve.routes(star)
    val data = Serve.dataRoutes(star)
    path match {
      case _ if routes.contains(path) => 200 -> array(routes(path)(params))
      case _ if data.contains(path) => 200 -> s"""{"data":${array(data(path)(params))}}"""
      case "/api/weekly_statistics_total" =>
        val page = params.getOrElse("page", "1").toInt
        val limit = params.getOrElse("limit", "100").toInt
        val rows = star.weeklyStatistics.count()
        200 -> (s"""{"page":$page,"limit":$limit,"total_pages":${(rows + limit - 1) / limit},""" +
          s""""total_rows":$rows,"data":${array(ServingQueries.weeklyStatisticsTotal(star, page, limit))}}""")
      case "/api/top5_summary" =>
        200 -> (s"""{"top5_deaths":${array(ServingQueries.top5Deaths(star))},""" +
          s""""top5_cases":${array(ServingQueries.top5Cases(star))}}""")
      case _ =>
        val metric = path.stripPrefix("/api/graph/country/")
        val country = params("country")
        val rows = array(ServingQueries.graphCountry(star, country,
          if (metric == "vaccinated") "vaccinations" else metric))
        if (rows == "[]") 404 -> s"""{"error":"no data for country '$country'"}"""
        else 200 -> s"""{"data":$rows}"""
    }
  }

  /** The weekly fact joined with the country dimension and the weekly
    * vaccinations, aggregated straight from the lineage star. */
  private lazy val joined: DataFrame = {
    val ws = star.weeklyStatistics
    val wv = star.dailyVaccineStatistics.groupBy(
        col("country_short_code").as("wv_code"),
        year(col("day_of_report")).as("year"),
        weekofyear(col("day_of_report")).as("week"))
      .agg(sum("new_reported_shots").as("total_weekly_vaccinations"))
    ws.join(broadcast(star.country), Seq("country_short_code"), "left")
      .join(wv, ws("country_short_code") === wv("wv_code") &&
        year(ws("date_of_report")) === wv("year") &&
        weekofyear(ws("date_of_report")) === wv("week"), "left")
      .select(ws("date_of_report").as("date"), col("country_name").as("country"),
        col("week_new_reported_cases").as("confirmed_cases"),
        col("week_new_reported_deaths").as("deaths"),
        col("total_weekly_vaccinations").as("vaccinations"),
        ws("country_short_code"))
  }

  /** `weekly_statistics_by_country`'s rows in the range-partitioned
    * `orderBy` form. */
  private def byCountryOrdered(code: String): DataFrame =
    joined.filter(col("country_short_code") === code).drop("country_short_code").orderBy("date")

  /** `graph/country/<metric>`'s body in the range-partitioned `orderBy` form. */
  private def graphOrdered(metric: String, code: String): (Int, String) = {
    val (fact, date, value) = metric match {
      case "cases"  => (star.weeklyStatistics, "date_of_report", "week_new_reported_cases")
      case "deaths" => (star.weeklyStatistics, "date_of_report", "week_new_reported_deaths")
      case _        => (star.dailyVaccineStatistics, "day_of_report", "new_reported_shots")
    }
    val rows = array(fact.filter(col("country_short_code") === code)
      .select(col(date).as("date"), col(value).as("value")).orderBy("date"))
    if (rows == "[]") 404 -> s"""{"error":"no data for country '$code'"}"""
    else 200 -> s"""{"data":$rows}"""
  }

  /** Every memoized route, with several parameter values: known and unknown
    * countries, the default, a middle, the last and a past-the-end page. */
  private def memoizedRequests: Seq[(String, Map[String, String])] =
    (Serve.routes(star).keys ++ Serve.dataRoutes(star).keys).toSeq.sorted.flatMap { p =>
      if (p.endsWith("/weekly_statistics_by_country"))
        Seq("FR", "DE", "XA", "ZZ").map(c => p -> Map("country_code" -> c))
      else Seq(p -> Map.empty[String, String])
    } ++ Seq(Map.empty[String, String], Map("page" -> "2", "limit" -> "7"),
      Map("page" -> "9", "limit" -> "7"), Map("page" -> "10", "limit" -> "7"))
      .map("/api/weekly_statistics_total" -> _) ++
    Seq("/api/top5_summary" -> Map.empty[String, String]) ++
    (for { m <- Seq("cases", "deaths", "vaccinated"); c <- Seq("FR", "DE", "XA", "ZZ") }
      yield s"/api/graph/country/$m" -> Map("country" -> c))

  /** Every read route group: plain-array, `{"data": …}`, paged, top-5,
    * graph, `table/<name>`, forecast and RF routes.
    */
  private val readRoutes: Seq[String] = Seq(
    "/api/total_cases", "/api/total_deaths", "/api/total_vaccines",
    "/api/who_region", "/api/country", "/api/disease", "/api/vaccine",
    "/api/daily_vaccine_statistics", "/api/weekly_statistics",
    "/api/weekly_statistics_by_country?country_code=FR",
    "/api/covid_cases_evolution", "/api/vaccinations_evolution",
    "/api/worldmap/cases", "/api/worldmap/deaths", "/api/worldmap/vaccinated",
    "/api/weekly_statistics_total?page=2&limit=5", "/api/top5_summary",
    "/api/graph/country/cases?country=FR", "/api/graph/country/deaths?country=DE",
    "/api/graph/country/vaccinated?country=DE",
    "/api/predicted_weekly_statistics",
    "/api/predict_cases?country=FR&start_date=2023-03-05&days=3",
    "/api/metrics",
  ) ++ Seq("who_region", "country", "disease", "vaccine", "weekly_statistics",
    "daily_vaccine_statistics").map(t => s"/api/table/$t")

  /** Each read route's body while the CSVs still exist. */
  private lazy val recorded: Map[String, String] = readRoutes.map { r =>
    val (code, body) = get(r)
    assert(code == 200, s"$r: $body")
    r -> body
  }.toMap

  test("a client slow to send its PUT body holds up neither other requests nor the table") {
    assert(request("POST", "/country_statistics",
      Some("""{"country":"SLOW","total_cases":1}"""))._1 == 201)
    try {
      val body = """{"total_cases":2}""".getBytes(StandardCharsets.UTF_8)
      val sock = new Socket("localhost", server.getAddress.getPort)
      try {
        sock.setSoTimeout(120000)
        val out = sock.getOutputStream
        // headers now, body withheld: the handler blocks reading it
        out.write(("PUT /country_statistics/SLOW HTTP/1.1\r\nHost: localhost\r\n" +
          "Content-Type: application/json\r\nConnection: close\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.US_ASCII))
        out.flush()
        Thread.sleep(300)
        // each of these times out if the withheld body holds the dispatcher
        // or the table's write lock
        assert(get("/health")._1 == 200)
        assert(request("POST", "/country_statistics",
          Some("""{"country":"FAST","total_cases":3}"""))._1 == 201)
        out.write(body)
        out.flush()
        val status = new BufferedReader(new InputStreamReader(sock.getInputStream,
          StandardCharsets.US_ASCII)).readLine()
        assert(status.startsWith("HTTP/1.1 200"), status)
        assert(get("/country_statistics/SLOW") ==
          (200 -> """{"country":"SLOW","total_cases":2,"total_vaccinated":0}"""))
      } finally sock.close()
    } finally for (k <- Seq("SLOW", "FAST")) request("DELETE", s"/country_statistics/$k")
  }

  test("a memoized route answers its first and repeat requests with the body computed from the star") {
    val answered = memoizedRequests.map { case (path, params) =>
      val key = ResponseStore.key(path, params)
      val before = store.get(key)
      val first = get(url(path, params))
      // a one-country key is pinned at start if its country has rows, and a
      // miss is not stored; any other key is stored by its first request
      val pinned = oneCountry(path) && first._1 == 200 && first._2 != "[]"
      assert(before.isDefined == pinned, s"$key: present before its first request ${before.isDefined}")
      assert(store.get(key).isDefined == (pinned || !oneCountry(path)),
        s"$key: stored ${store.get(key).isDefined}")
      val (jobs, _) = sparkWork {
        assert(get(url(path, params)) == first, s"$key: repeat")
      }
      assert(jobs == 0, s"$key: repeat ran $jobs Spark jobs")
      assert(first == direct(path, params), key)
      url(path, params) -> first._1
    }
    // unknown countries: an empty series and the data-derived graph 404
    // (XA reports weekly statistics but no vaccinations)
    assert(answered.filter(_._2 == 404).map(_._1).toSet ==
      (Seq("cases", "deaths", "vaccinated").map(m => s"/api/graph/country/$m?country=ZZ") :+
        "/api/graph/country/vaccinated?country=XA").toSet, answered)
    assert(get(url("/api/weekly_statistics_by_country", Map("country_code" -> "ZZ"))) == (200 -> "[]"))
    assert(store.size > 0 && store.size <= Serve.MemoBudgetBytes)
  }

  test("a star view's table/<name> body is kept while its view is unchanged") {
    for (path <- Seq("/api/table/disease", "/api/table/weekly_statistics",
        "/api/predicted_weekly_statistics")) {
      val first = get(path)
      assert(first._1 == 200, s"$path: $first")
      for (_ <- 0 until 2) {
        val (jobs, _) = sparkWork(assert(get(path) == first, path))
        // a star view's capped body is kept once computed
        if (path.startsWith("/api/table/")) assert(jobs == 0, s"$path ran $jobs Spark jobs")
        else assert(jobs >= 1, s"$path ran no Spark job")
      }
      // a star view's body is a guarded entry; a model's answer is not stored
      assert(store.get(ResponseStore.key(path, Map.empty)).isDefined == path.startsWith("/api/table/"), path)
    }
    // a view re-registered under a served name: the route answers its rows,
    // by the capped scan, on every request
    val served = spark.table("disease")
    val before = get("/api/table/disease")
    try {
      spark.range(3).selectExpr("id", "concat('other-', id) AS name")
        .createOrReplaceTempView("disease")
      for (_ <- 0 until 2) {
        val (jobs, _) = sparkWork(assert(get("/api/table/disease") == (200 ->
          """{"disease":[{"id":0,"name":"other-0"},{"id":1,"name":"other-1"},{"id":2,"name":"other-2"}]}""")))
        assert(jobs >= 1, "a re-registered view ran no Spark job")
      }
      assert(store.get(ResponseStore.key("/api/table/disease", Map.empty)).isEmpty)
    } finally served.createOrReplaceTempView("disease")
    assert(get("/api/table/disease") == before)
    // nor is an unknown metric's or a missing parameter's 400 stored
    assert(get("/api/graph/country/nonsense?country=FR")._1 == 400)
    assert(get("/api/weekly_statistics_by_country")._1 == 400)
    assert(store.get(ResponseStore.key("/api/graph/country/nonsense", Map("country" -> "FR"))).isEmpty)
    assert(store.get(ResponseStore.key("/api/weekly_statistics_by_country", Map.empty)).isEmpty)
  }

  test("weekly_statistics_total answers 400 to a non-integer, page < 1 or limit < 1") {
    for (params <- Seq(Map("limit" -> "0"), Map("limit" -> "-1"), Map("page" -> "0"),
        Map("page" -> "-3"), Map("page" -> "two"), Map("limit" -> "1.5"), Map("limit" -> ""),
        Map("page" -> "1", "limit" -> "99999999999"))) {
      for (_ <- 0 until 2) {
        val (code, body) = get(url("/api/weekly_statistics_total", params))
        assert(code == 400, s"$params: $body")
        assert(new ObjectMapper().readTree(body).path("error").asText().contains("must be an integer >= 1"),
          s"$params: $body")
      }
      assert(store.get(ResponseStore.key("/api/weekly_statistics_total", params)).isEmpty, params)
    }
    // a page whose offset overflows an Int is past every row: empty, not a 500
    val (code, body) = get(s"/api/weekly_statistics_total?page=3&limit=${Int.MaxValue}")
    assert(code == 200, body)
    assert(body.endsWith(""""data":[]}"""), body)
  }

  test("predict_cases answers 400 to a non-integer or non-positive days and caps it at 104") {
    for (model <- Seq("", "&model=lstm"); days <- Seq("abc", "0", "-2", "1.5", "")) {
      val (code, body) = get(s"/api/predict_cases?country=FR&start_date=2023-03-05&days=$days$model")
      assert(code == 400, s"days=$days$model: $body")
      assert(new ObjectMapper().readTree(body).path("error").asText()
        .contains("days must be an integer >= 1"), s"days=$days$model: $body")
    }
    val (code, body) = get("/api/predict_cases?country=FR&start_date=2023-03-05&days=500")
    assert(code == 200, body)
    val node = new ObjectMapper().readTree(body)
    assert(node.path("days").asInt() == 104 && node.path("predictions").size() == 104, body)
  }

  test("a CRUD GET reads its own write even when the same GET came before it") {
    for ((base, key, row, upd) <- Seq(
        ("/country_statistics", "MEMO",
          """{"country":"MEMO","total_cases":5,"total_vaccinated":0}""", """{"total_cases":6}"""),
        ("/region_yearly_summary", "MEMO/2021",
          """{"who_region":"MEMO","year":2021,"total_cases":5,"total_deaths":1}""",
          """{"total_cases":6}"""))) {
      val all = get(base)
      assert(get(s"$base/$key")._1 == 404)
      assert(request("POST", base, Some(row))._1 == 201)
      assert(get(s"$base/$key") == (200 -> row))
      assert(get(base) != all)
      assert(request("PUT", s"$base/$key", Some(upd))._1 == 200)
      assert(get(s"$base/$key") == (200 -> row.replace("\"total_cases\":5", "\"total_cases\":6")))
      assert(request("DELETE", s"$base/$key")._1 == 200)
      assert(get(s"$base/$key")._1 == 404)
      assert(get(base) == all)
    }
    // a year that is not an integer matches no route, like Flask's <int:year>
    for (method <- Seq("GET", "PUT", "DELETE")) {
      val body = if (method == "PUT") Some("""{"total_cases":6}""") else None
      val (code, resp) = request(method, "/region_yearly_summary/MEMO/twenty", body)
      assert(code == 404, s"$method: $resp")
    }
    // a body that is not a JSON object is the client's error
    for ((method, path) <- Seq("POST" -> "/country_statistics", "PUT" -> "/country_statistics/MEMO",
        "POST" -> "/region_yearly_summary", "PUT" -> "/region_yearly_summary/MEMO/2021");
        body <- Seq("not json", """{"country":""", "[1]", "")) {
      val (code, resp) = request(method, path, Some(body))
      assert(code == 400, s"$method $path '$body': $resp")
    }
  }

  test("an escaped & in a query value is part of the value") {
    // the code is `FR&x`, which has no rows, not `FR`
    assert(get("/api/weekly_statistics_by_country?country_code=FR%26x") == (200 -> "[]"))
  }

  test("an escaped % in a query value is decoded once") {
    assert(get("/api/graph/country/cases?country=100%25") ==
      (404 -> """{"error":"no data for country '100%'"}"""))
  }

  test("an escaped % in a CRUD path key is decoded once") {
    try {
      assert(request("POST", "/country_statistics", Some("""{"country":"100%","total_cases":1}"""))._1 == 201)
      assert(get("/country_statistics/100%25") ==
        (200 -> """{"country":"100%","total_cases":1,"total_vaccinated":0}"""))
    } finally request("DELETE", "/country_statistics/100%25")
  }

  test("an escaped / in a CRUD path key stays in its segment, and a + stays a +") {
    try {
      assert(request("POST", "/country_statistics", Some("""{"country":"A/B+C","total_cases":1}"""))._1 == 201)
      assert(get("/country_statistics/A%2FB+C") ==
        (200 -> """{"country":"A/B+C","total_cases":1,"total_vaccinated":0}"""))
    } finally request("DELETE", "/country_statistics/A%2FB+C")
  }

  test("the memo never stores more than its budget") {
    val budget = 1000L
    val pinnedKey = ResponseStore.key("/api/weekly_statistics_by_country", Map("country_code" -> "P"))
    val pinnedBody = Array.fill[Byte](600)('p'.toByte)
    val pinnedCost = pinnedBody.length + pinnedKey.length
    val m = new ResponseStore(budget, Map(pinnedKey -> (200 -> pinnedBody)))
    assert(m.size == pinnedCost)
    val body = Array.fill[Byte](90)('x'.toByte)
    for (i <- 0 until 100) {
      val key = ResponseStore.key("/api/graph/country/cases", Map("country" -> s"C$i"))
      m.put(key, 200 -> body)
      // the budget bounds what is put on top of the pinned entries, which
      // every overflow clear keeps
      assert(m.size > pinnedCost && m.size <= pinnedCost + budget, s"after $i inserts: ${m.size}")
      assert(m.get(key).exists(_._2 sameElements body), key)
      assert(m.get(pinnedKey).exists(_._2 sameElements pinnedBody), s"after $i inserts")
    }
    // a body larger than the budget is not stored, and evicts nothing
    val before = m.size
    m.put("/api/disease?", 200 -> Array.fill[Byte](budget.toInt + 1)('y'.toByte))
    assert(m.get("/api/disease?").isEmpty)
    assert(m.size == before)
    // a repeat insert of a stored key is not counted twice, nor is a pinned key replaced
    val key = ResponseStore.key("/api/graph/country/cases", Map("country" -> "C99"))
    m.put(key, 200 -> body)
    m.put(pinnedKey, 200 -> body)
    assert(m.size == before)
    assert(m.get(pinnedKey).exists(_._2 sameElements pinnedBody))
    // a guarded entry is stored only if its guard holds, and served only while it does
    var valid = false
    m.put("/api/table/t?", 200 -> body, () => valid)
    valid = true
    assert(m.get("/api/table/t?").isEmpty && m.size == before)
    m.put("/api/table/u?", 200 -> body, () => valid)
    assert(m.get("/api/table/u?").exists(_._2 sameElements body))
    valid = false
    assert(m.get("/api/table/u?").isEmpty)
    // parameter maps that would print alike have different keys
    assert(ResponseStore.key("/api/x", Map("a" -> "1&b=2")) != ResponseStore.key("/api/x", Map("a" -> "1", "b" -> "2")))
  }

  test("predict_cases model=lstm answers 503 naming the missing checkpoint or encoder") {
    val props = Seq("graft.owid.csv", "graft.lstm.model", "graft.lstm.encoder")
    val saved = props.map(k => k -> sys.props.get(k))
    val dir = Files.createTempDirectory("lstm-absent")
    try {
      val csv = Files.writeString(dir.resolve("owid.csv"), "iso_code,location,date,new_cases\n")
      val model = dir.resolve("absent.pth").toString
      val encoder = dir.resolve("absent.pkl").toString
      sys.props("graft.owid.csv") = csv.toString
      sys.props("graft.lstm.model") = model
      sys.props("graft.lstm.encoder") = encoder
      val path = "/api/predict_cases?country=France&start_date=2020-05-01&days=3&model=lstm"
      val (code, body) = get(path)
      assert(code == 503, body)
      val msg = new ObjectMapper().readTree(body).path("error").asText()
      for (named <- Seq("not configured", "SPARK_GRAFT_LSTM_PTH", model,
          "SPARK_GRAFT_LSTM_ENCODER", encoder))
        assert(msg.contains(named), s"$named: $body")
      // only the missing one is named
      sys.props("graft.lstm.model") = csv.toString
      val (code2, body2) = get(path)
      assert(code2 == 503, body2)
      assert(body2.contains(encoder) && !body2.contains("SPARK_GRAFT_LSTM_PTH"), body2)
    } finally {
      saved.foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None)    => sys.props.remove(k)
      }
      WhoFixture.deleteTree(dir)
    }
  }

  test("routes over the stored aggregates answer what aggregating the star answers") {
    // the reference bodies aggregate the fixture star's facts directly
    val M = new ObjectMapper()
    val ws = star.weeklyStatistics
    val dv = star.dailyVaccineStatistics
    def records(df: DataFrame): Seq[String] = Warehouse.jsonRecords(df).collect().toSeq
    def body(path: String): String = {
      val (code, b) = get(path)
      assert(code == 200, s"$path: $b")
      b
    }
    def sortedRows(json: String): Seq[String] = {
      val node = M.readTree(json)
      val rows = if (node.isArray) node else node.path("data")
      rows.elements().asScala.map(_.toString).toSeq.sorted
    }
    def sortedRecords(df: DataFrame): Seq[String] =
      records(df).map(M.readTree(_).toString).sorted

    // unordered routes: the same row set
    for ((path, ref) <- Seq(
        "/api/total_cases" -> ws.agg(sum("week_new_reported_cases").as("total_weekly_cases")),
        "/api/total_deaths" -> ws.agg(sum("week_new_reported_deaths").as("total_weekly_deaths")),
        "/api/total_vaccines" -> dv.agg(sum("new_reported_shots").as("total_reported_shots")),
        "/api/worldmap/cases" -> ws.groupBy(col("country_short_code").as("country"))
          .agg(sum("week_new_reported_cases").as("value")),
        "/api/worldmap/deaths" -> ws.groupBy(col("country_short_code").as("country"))
          .agg(sum("week_new_reported_deaths").as("value")),
        "/api/worldmap/vaccinated" -> dv.groupBy(col("country_short_code").as("country"))
          .agg(sum("new_reported_shots").as("value")))) {
      val want = sortedRecords(ref)
      assert(want.nonEmpty, path)
      assert(sortedRows(body(path)) == want, path)
    }

    // ordered routes: the same body
    def top5(measure: String, as: String): DataFrame =
      ws.join(broadcast(star.country), Seq("country_short_code"))
        .groupBy("country_name")
        .agg(sum(measure).as(as))
        .orderBy(col(as).desc, col("country_name"))
        .limit(5)
    assert(body("/api/top5_summary") ==
      s"""{"top5_deaths":${array(top5("week_new_reported_deaths", "total_deaths"))},""" +
        s""""top5_cases":${array(top5("week_new_reported_cases", "total_cases"))}}""")

    for (code <- Seq("FR", "DE", "ZZ"))
      assert(body(s"/api/weekly_statistics_by_country?country_code=$code") ==
        array(byCountryOrdered(code)), code)
    assert(M.readTree(body("/api/weekly_statistics_by_country?country_code=DE"))
      .elements().asScala.exists(_.hasNonNull("vaccinations")))

    val rows = ws.count()
    assert(rows == codes.length * weeks)
    val ordered = joined.drop("country_short_code")
      .orderBy(col("country").asc_nulls_last, col("date"))
    for (page <- Seq(1, 2, 12, 13)) {
      val ref = array(ordered.offset((page - 1) * 5).limit(5))
      assert(body(s"/api/weekly_statistics_total?page=$page&limit=5") ==
        s"""{"page":$page,"limit":5,"total_pages":${(rows + 4) / 5},"total_rows":$rows,""" +
          s""""data":$ref}""", s"page $page")
    }
  }

  test("warm aggregate routes run at most two jobs; the page runs no count") {
    // each measured request is a key not requested before (the `probe`
    // parameter changes the key, not the answer), so it runs the route;
    // its repeat is a memo hit
    def missThenHit(warmPath: String, fresh: String): (Int, Seq[String]) = {
      assert(get(warmPath)._1 == 200, warmPath)
      assert(store.get(ResponseStore.key(fresh.takeWhile(_ != '?'), queryOf(fresh))).isEmpty, fresh)
      val miss = sparkWork(assert(get(fresh)._1 == 200, fresh))
      val (hitJobs, _) = sparkWork(assert(get(fresh)._1 == 200, fresh))
      assert(hitJobs == 0, s"$fresh repeat ran $hitJobs jobs")
      miss
    }
    for (path <- Seq("/api/top5_summary", "/api/worldmap/cases", "/api/worldmap/deaths",
        "/api/worldmap/vaccinated", "/api/total_cases", "/api/total_deaths",
        "/api/total_vaccines")) {
      val (n, _) = missThenHit(path, s"$path?probe=jobs")
      assert(n <= 2, s"$path ran $n jobs")
    }
    // the page is the request's only query: `total_rows` counts nothing
    val (_, paged) = missThenHit("/api/weekly_statistics_total?page=2&limit=5",
      "/api/weekly_statistics_total?page=4&limit=6")
    assert(paged.length == 1, s"weekly_statistics_total ran ${paged.length} queries:\n" +
      paged.mkString("\n"))
  }

  test("keep-alive requests are not held back by the client's delayed ACK") {
    val path = "/api/disease"
    assert(get(path)._1 == 200)
    assert(store.get(ResponseStore.key(path, Map.empty)).isDefined)
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.getAddress.getPort}$path")).GET().build()
    // one connection: every request after the first reuses it
    val ms = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 15, s"median $median ms of ${ms.map(m => f"$m%.1f").mkString(", ")}")
  }

  test("a CRUD write or read by key runs no Spark job") {
    val steps = Seq(
      ("POST", "/country_statistics", Some("""{"country":"NOJOB","total_cases":1}"""), 201),
      ("GET", "/country_statistics/NOJOB", None, 200),
      ("PUT", "/country_statistics/NOJOB", Some("""{"total_cases":2}"""), 200),
      ("DELETE", "/country_statistics/NOJOB", None, 200),
      ("GET", "/country_statistics/NOJOB", None, 404),
      ("POST", "/region_yearly_summary",
        Some("""{"who_region":"NOJOB","year":2021,"total_cases":1}"""), 201),
      ("GET", "/region_yearly_summary/NOJOB/2021", None, 200),
      ("PUT", "/region_yearly_summary/NOJOB/2021", Some("""{"total_deaths":3}"""), 200),
      ("DELETE", "/region_yearly_summary/NOJOB/2021", None, 200),
      ("DELETE", "/region_yearly_summary/NOJOB/2021", None, 404))
    val ran = steps.map { case (method, path, body, status) =>
      val (jobs, _) = sparkWork {
        val (code, resp) = request(method, path, body)
        assert(code == status, s"$method $path: $resp")
      }
      s"$method $path" -> jobs
    }
    assert(ran.forall(_._2 == 0), ran)
  }

  test("a CRUD value that is not an integer in its column's range answers 400") {
    val bad = Seq("\"abc\"", "1.5", "1e30", "\"1.5\"", "\"\"", "true", "[1]", "{}",
      "9223372036854775808", "\"-9223372036854775809\"")
    try {
      for (v <- bad) {
        val (post, postBody) = request("POST", "/country_statistics",
          Some(s"""{"country":"TYPED","total_cases":$v}"""))
        assert(post == 400, s"POST total_cases $v: $postBody")
        assert(get("/country_statistics/TYPED")._1 == 404, s"POST total_cases $v stored a row")
      }
      for (v <- bad :+ "2147483648") {
        val (post, postBody) = request("POST", "/region_yearly_summary",
          Some(s"""{"who_region":"TYPED","year":$v,"total_cases":1}"""))
        assert(post == 400, s"POST year $v: $postBody")
      }
      assert(get("/region_yearly_summary/TYPED/0")._1 == 404)
      // a string column takes a scalar, not an object or an array
      for (v <- Seq("{}", "[\"TYPED\"]")) {
        val (post, postBody) = request("POST", "/country_statistics", Some(s"""{"country":$v}"""))
        assert(post == 400, s"POST country $v: $postBody")
      }

      // integral numbers and strings of digits are accepted, as Postgres coerces them
      val row = """{"country":"TYPED","total_cases":12,"total_vaccinated":-7}"""
      assert(request("POST", "/country_statistics",
        Some("""{"country":"TYPED","total_cases":"12","total_vaccinated":" -7 "}"""))._1 == 201)
      assert(get("/country_statistics/TYPED") == (200 -> row))
      val region = """{"who_region":"TYPED","year":2022,"total_cases":1,"total_deaths":5}"""
      assert(request("POST", "/region_yearly_summary",
        Some("""{"who_region":"TYPED","year":"2022","total_cases":1,"total_deaths":"+5"}"""))._1 == 201)
      assert(get("/region_yearly_summary/TYPED/2022") == (200 -> region))
      for (v <- bad) {
        val (put, putBody) = request("PUT", "/country_statistics/TYPED",
          Some(s"""{"total_cases":$v}"""))
        assert(put == 400, s"PUT total_cases $v: $putBody")
        val (putYear, putYearBody) = request("PUT", "/region_yearly_summary/TYPED/2022",
          Some(s"""{"year":$v,"total_deaths":6}"""))
        assert(putYear == 400, s"PUT year $v: $putYearBody")
      }
      val (putRegion, putRegionBody) = request("PUT", "/region_yearly_summary/TYPED/2022",
        Some("""{"who_region":{"name":"TYPED"},"total_deaths":6}"""))
      assert(putRegion == 400, putRegionBody)
      assert(get("/country_statistics/TYPED") == (200 -> row))
      assert(get("/region_yearly_summary/TYPED/2022") == (200 -> region))
      assert(request("PUT", "/country_statistics/TYPED", Some("""{"total_cases":"13"}"""))._1 == 200)
      assert(get("/country_statistics/TYPED") == (200 -> row.replace("12", "13")))
    } finally {
      request("DELETE", "/country_statistics/TYPED")
      request("DELETE", "/region_yearly_summary/TYPED/2022")
    }
  }

  test("a cold one-country key runs no Spark job and answers what the orderBy form answers") {
    // the `probe` parameter makes each measured key cold without changing its answer
    val cold = Seq("FR", "DE", "QQ").flatMap { code =>
      (s"/api/weekly_statistics_by_country?country_code=$code&probe=cold" ->
        (200 -> array(byCountryOrdered(code)))) +:
        Seq("cases", "deaths", "vaccinated").map(m =>
          s"/api/graph/country/$m?country=$code&probe=cold" -> graphOrdered(m, code))
    }.map { case (path, want) =>
      path -> sparkWork(assert(get(path) == want, path))._1
    }
    assert(cold.forall(_._2 == 0), cold)
  }

  test("the pinned one-country bodies are the orderBy form's for every code") {
    // the pinned entries, read from the store without a request; a code they
    // lack answers the empty array or the graph 404
    def pinned(path: String, params: Map[String, String]): Option[(Int, String)] =
      store.get(ResponseStore.key(path, params)).map { case (s, b) => s -> new String(b, StandardCharsets.UTF_8) }
    for (code <- codes.map(_._1) :+ "QQ") {
      assert(pinned("/api/weekly_statistics_by_country", Map("country_code" -> code))
        .getOrElse(200 -> "[]") == (200 -> array(byCountryOrdered(code))), code)
      for (metric <- Seq("cases", "deaths", "vaccinated")) {
        assert(pinned(s"/api/graph/country/$metric", Map("country" -> code))
          .getOrElse(404 -> s"""{"error":"no data for country '$code'"}""") == graphOrdered(metric, code),
          s"$metric $code")
      }
    }
    assert(pinned("/api/weekly_statistics_by_country", Map("country_code" -> "QQ")).isEmpty)
  }

  test("table/<name> encodes before its cap, so its plan has no exchange") {
    // a view the server did not register runs the capped scan on every request
    val tables = Seq("disease", "weekly_statistics")
    try {
      tables.foreach(t => spark.table(t).createOrReplaceTempView(s"${t}_scan"))
      // the views' own commands are SQL executions too: delivered before measuring
      GraftSparkAccess.drainListenerBus(spark.sparkContext)
      for (t <- tables; _ <- 0 until 2) {
        val (_, plans) = sparkWork(assert(get(s"/api/table/${t}_scan")._1 == 200, t))
        assert(plans.nonEmpty && plans.forall(p => p.contains("CollectLimit") &&
          !p.contains("Exchange")), s"$t:\n${plans.mkString("\n")}")
      }
    } finally tables.foreach(t => spark.catalog.dropTempView(s"${t}_scan"))
  }

  test("writes succeed after more keep-alive connections than the JDK's default sit idle") {
    val port = server.getAddress.getPort
    val pairs = 200
    // each socket completes one keep-alive request, then stays open and idle
    val idle = (0 until 250).map { _ =>
      val sock = new Socket("localhost", port)
      sock.setSoTimeout(30000)
      sock.getOutputStream.write("GET /health HTTP/1.1\r\nHost: localhost\r\n\r\n"
        .getBytes(StandardCharsets.US_ASCII))
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.US_ASCII))
      assert(in.readLine().startsWith("HTTP/1.1 200"))
      val length = Iterator.continually(in.readLine()).takeWhile(_.nonEmpty)
        .collectFirst { case h if h.toLowerCase.startsWith("content-length:") =>
          h.drop("content-length:".length).trim.toInt }.get
      in.read(new Array[Char](length))
      sock
    }
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      def send(req: HttpRequest.Builder) =
        client.send(req.build(), HttpResponse.BodyHandlers.ofString())
      val base = s"http://localhost:$port/country_statistics"
      // at the JDK's default, a few percent of these POSTs land on a
      // connection the server closed after the GET, so 200 pairs lose some
      val lost = (0 until pairs).flatMap { i =>
        assert(send(HttpRequest.newBuilder(URI.create(base)).GET()).statusCode == 200)
        try {
          val post = send(HttpRequest.newBuilder(URI.create(base))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(s"""{"country":"IDLE$i","total_cases":1}""")))
          if (post.statusCode == 201) None else Some(s"POST $i: ${post.statusCode} ${post.body}")
        } catch { case e: java.io.IOException => Some(s"POST $i: $e") }
      }
      assert(lost.isEmpty, s"${lost.length} of $pairs writes lost: ${lost.take(3).mkString("; ")}")
    } finally {
      idle.foreach(_.close())
      for (i <- 0 until pairs) request("DELETE", s"/country_statistics/IDLE$i")
    }
  }

  test("reads are served from the star materialized at start, not the CSVs") {
    // generator totals, nulls filled to 0 (FIXTURES.md §A)
    val totalCases = (for (c <- codes.indices; w <- 0 until weeks) yield cases(c, w).getOrElse(0)).sum
    assert(recorded("/api/total_cases") == s"""[{"total_weekly_cases":$totalCases}]""")
    // blank WHO_region → UNKNOWN code, displayed as "Other" like literal OTHER
    assert(recorded("/api/who_region").contains(
      """{"who_region_short_code":"UNKNOWN","who_region_name":"Other"}"""))
    assert(recorded("/api/total_vaccines") ==
      s"""[{"total_reported_shots":${1500000L + 2 * 22964750L + 300000L}}]""")

    // keys no request has made, answered from the lineage star while its
    // CSVs exist, then requested once they are gone: BR's one-country bodies
    // are pinned at start, the page is a store miss
    val fresh = Seq(
      "/api/weekly_statistics_by_country" -> Map("country_code" -> "BR"),
      "/api/weekly_statistics_total" -> Map("page" -> "3", "limit" -> "4"),
      "/api/graph/country/deaths" -> Map("country" -> "BR"))
    val expected = fresh.map { case (path, params) =>
      assert(store.get(ResponseStore.key(path, params)).isDefined == oneCountry(path), path)
      val want = direct(path, params)
      assert(want._1 == 200 && want._2.length > 20, s"$path: $want")
      want
    }

    WhoFixture.deleteTree(dataDir)
    assert(!Files.exists(dataDir))
    for (((path, params), want) <- fresh.zip(expected))
      assert(get(url(path, params)) == want, path)
    for (r <- readRoutes) assert(get(r) == (200 -> recorded(r)), r)
  }

  test("four concurrent clients: reads match and each client reads its own writes") {
    val failures = new ConcurrentLinkedQueue[String]()
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) failures.add(msg)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val clients = (0 until 4).map { c =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = for (round <- 0 until 2) {
            for (r <- readRoutes.drop(c * 3) ++ readRoutes.take(c * 3)) {
              val got = get(r)
              expect(got == (200 -> recorded(r)), s"client $c $r: $got")
            }
            val key = s"C$c-$round"
            val cases = 1000L * c + round
            def row(n: Long) = s"""{"country":"$key","total_cases":$n,"total_vaccinated":0}"""
            expect(request("POST", "/country_statistics",
              Some(s"""{"country":"$key","total_cases":$cases}"""))._1 == 201, s"POST $key")
            expect(get(s"/country_statistics/$key") == (200 -> row(cases)), s"GET $key after POST")
            expect(request("PUT", s"/country_statistics/$key",
              Some(s"""{"total_cases":${cases + 1}}"""))._1 == 200, s"PUT $key")
            expect(get(s"/country_statistics/$key") == (200 -> row(cases + 1)), s"GET $key after PUT")
            val region = s"""{"who_region":"R$c","year":${2020 + round},"total_cases":$cases,"total_deaths":1}"""
            expect(request("POST", "/region_yearly_summary", Some(region))._1 == 201, s"POST R$c")
            expect(get(s"/region_yearly_summary/R$c/${2020 + round}") == (200 -> region),
              s"GET R$c after POST")
            expect(request("DELETE", s"/country_statistics/$key")._1 == 200, s"DELETE $key")
            expect(get(s"/country_statistics/$key")._1 == 404, s"GET $key after DELETE")
          }
        })
      }
      clients.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    // only the region rows survive: 4 clients × 2 rounds
    assert(get("/country_statistics") == (200 -> "[]"))
    assert(get("/region_yearly_summary")._2.split("\"who_region\"").length - 1 == 8)
  }
}
