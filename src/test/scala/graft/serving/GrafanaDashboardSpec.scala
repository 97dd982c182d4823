package graft.serving

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, WhoFixture}
import graft.etl.EtlJob
import graft.queries.DerivedTables

/** The provisioning-ready Grafana dashboard artifact
  * (src/main/resources/grafana/dashboard.json — the engine's counterpart
  * of the reference's app/grafana/Dashboard.json): structural validity,
  * AND every panel's embedded SQL executed against the engine's serving
  * tables with the result proven identical to the corresponding panel
  * function (the artifact can never drift from the gated semantics).
  *
  * The panel tests compare two computations over the same data, so they read
  * the reference CSVs when mounted and otherwise the FIXTURES.md §A-shaped
  * trio [[graft.WhoFixture]] writes.
  */
class GrafanaDashboardSpec extends AnyFunSuite with SparkSpec {

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private lazy val dash = {
    val in = getClass.getResourceAsStream("/grafana/dashboard.json")
    assert(in != null, "dashboard.json missing from resources")
    try mapper.readTree(in) finally in.close()
  }

  private lazy val dataDir = WhoFixture.dir(referenceDataDir)
  private lazy val covid = EtlJob.prepareCovid(
    EtlJob.readWhoCovid(spark, s"$dataDir/WHO-COVID-19-global-data.csv"))
  private lazy val star = EtlJob.run(spark, dataDir)
  private lazy val population =
    Seq(("FR", 2023, 68000000L), ("DE", 2023, 83000000L), ("IT", 2023, 59000000L))
      .toDF("country_code", "year", "population")

  private def registerViews(): Unit = {
    DerivedTables.covidRegionYearlySummary(covid)
      .createOrReplaceTempView("region_yearly_summary")
    DerivedTables.countryStatistics(star, population)
      .createOrReplaceTempView("country_statistics")
  }

  private def panelSql(panelId: Int, refId: String): String = {
    val panels = dash.get("panels")
    val p = (0 until panels.size()).map(panels.get)
      .find(_.get("id").asInt() == panelId).get
    val ts = p.get("targets")
    (0 until ts.size()).map(ts.get)
      .find(_.get("refId").asText() == refId).get
      .get("rawSql").asText()
  }

  private def same(sql: String, expected: DataFrame): Unit = {
    val got = spark.sql(sql).collect().toSeq
    val want = expected.collect().toSeq
    assert(got == want, s"dashboard SQL drifted from the panel function:\n$sql")
  }

  test("structure: 7 panels, expected types, every target carries rawSql") {
    assert(dash.get("title").asText().nonEmpty)
    assert(dash.get("uid").asText() == "graft-covid-global")
    val panels = dash.get("panels")
    assert(panels.size() == 7)
    val types = (0 until panels.size()).map(panels.get(_).get("type").asText())
    assert(types.sorted ==
      Seq("barchart", "bargauge", "geomap", "stat", "table", "timeseries", "timeseries"))
    (0 until panels.size()).map(panels.get).foreach { p =>
      val ts = p.get("targets")
      assert(ts != null && ts.size() >= 1, p.get("title").asText())
      (0 until ts.size()).map(ts.get).foreach(t =>
        assert(t.get("rawSql").asText().toUpperCase.startsWith("SELECT") ||
          t.get("rawSql").asText().toUpperCase.startsWith("WITH")))
    }
  }

  test("region panels: embedded SQL == the gated panel functions") {
    registerViews()
    val ry = DerivedTables.covidRegionYearlySummary(covid)
    same(panelSql(1, "A"), DerivedTables.panelGlobalCasesLatestYear(ry))
    same(panelSql(2, "A"), DerivedTables.panelRegionCasesLatestYear(ry))
    same(panelSql(3, "A"),
      DerivedTables.panelRegionYearlyDelta(ry, "cases").orderBy($"time", $"WHO_region"))
    same(panelSql(4, "A"),
      DerivedTables.panelRegionYearlyDelta(ry, "deaths").orderBy($"time", $"WHO_region"))
    same(panelSql(5, "A"), DerivedTables.panelGlobalYearlyCfr(ry))
  }

  test("country panels: embedded SQL == the gated panel functions") {
    registerViews()
    val cs = DerivedTables.countryStatistics(star, population)
    same(panelSql(6, "A"), cs.select($"Country", $"total_cases").orderBy($"Country"))
    same(panelSql(6, "B"), cs.select($"Country", $"total_vaccinated").orderBy($"Country"))
    same(panelSql(7, "A"), DerivedTables.panelCountryPercent(cs, "cases"))
    same(panelSql(7, "B"), DerivedTables.panelCountryPercent(cs, "vaccinated"))
  }
}
