package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, WhoFixture}
import graft.etl.EtlJob

/** Serving-layer queries over the real ETL output: cross-checked invariants
  * (totals consistent between endpoints, rankings ordered, CFR bounded).
  *
  * Six tests pin values of the committed WHO snapshot (the 777,126,421 case
  * total, 240 country codes, 261 weekly buckets, 5 report years), so they
  * read `star` / `agg` / `covid` from the reference CSVs only: `total_cases
  * endpoint…`, `README derived tables…`, `country_statistics serving
  * table…`, `worldmap + graph…`, `weekly_statistics_by_country…` and
  * `region yearly summary…`. The contract tests (top5 ordering, pagination,
  * the rate formula, the warehouse catalog) hold over any WHO-shaped data
  * and read `contractStar` / `contractAgg`: the reference CSVs when mounted,
  * else the FIXTURES.md §A-shaped trio [[graft.WhoFixture]] writes.
  */
class ServingQueriesSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  lazy val star = EtlJob.run(spark, referenceDataDir)
  lazy val agg = ServingQueries.factAggregates(star)
  lazy val covid = EtlJob.prepareCovid(
    EtlJob.readWhoCovid(spark, s"$referenceDataDir/WHO-COVID-19-global-data.csv"))
  lazy val contractStar = EtlJob.run(spark, WhoFixture.dir(referenceDataDir))
  lazy val contractAgg = ServingQueries.factAggregates(contractStar)

  test("total_cases endpoint equals the evolution series' grand total") {
    val total = ServingQueries.totalCases(agg).collect()(0).getLong(0)
    val evolution = ServingQueries.covidCasesEvolution(star)
      .agg(sum("total_cases")).collect()(0).getLong(0)
    assert(total == evolution)
    // golden values from the committed snapshot (independently computed
    // with DuckDB over the raw CSV)
    assert(total == 777126421L)
    val deaths = ServingQueries.totalDeaths(agg).collect()(0).getLong(0)
    assert(deaths == 7079925L)
  }

  test("top5 rankings are 5 rows, strictly ordered") {
    val deaths = ServingQueries.top5Deaths(contractAgg).collect()
    assert(deaths.length == 5)
    val vals = deaths.map(_.getLong(1)).toSeq
    assert(vals == vals.sortBy(-_))
    val cases = ServingQueries.top5Cases(contractAgg).collect()
    assert(cases.length == 5)
  }

  test("weekly pagination: page partitions the ordered stream exactly") {
    val p1 = ServingQueries.weeklyStatisticsTotal(contractStar, contractAgg, page = 1, limit = 50).collect()
    val p2 = ServingQueries.weeklyStatisticsTotal(contractStar, contractAgg, page = 2, limit = 50).collect()
    assert(p1.length == 50 && p2.length == 50)
    assert(p1.toSet.intersect(p2.toSet).isEmpty)
    val totalRows = ServingQueries.weeklyStatisticsTotalRows(contractStar)
    assert(totalRows == contractStar.weeklyStatistics.count())
  }

  test("weekly_statistics_by_country returns a dated series for FR") {
    val fr = ServingQueries.weeklyStatisticsByCountry(star, agg, "FR").collect()
    assert(fr.length == 261) // every weekly bucket
    assert(fr.forall(_.getAs[String]("country") == "France"))
  }

  test("country_covid_rates: rate formula and ordering") {
    val population = Seq(
      ("FR", 2020, 67000000L), ("FR", 2023, 68000000L), ("DE", 2023, 83000000L),
    ).toDF("country_code", "year", "population")
    val rates = ServingQueries.countryCovidRates(contractStar, population).collect()
    assert(rates.length == 2)
    val byCode = rates.map(r => r.getString(0) -> r).toMap
    // latest population picked (68M not 67M)
    assert(byCode("FR").getAs[Long]("population") == 68000000L)
    val rate = byCode("FR").getAs[java.math.BigDecimal]("case_rate_percent")
    assert(rate.doubleValue > 0 && rate.doubleValue < 100)
  }

  test("region yearly summary + Grafana panels") {
    val regionYearly = DerivedTables.covidRegionYearlySummary(covid).cache()
    assert(regionYearly.select("Year").distinct().count() == 5) // 2020..2024
    val latest = DerivedTables.panelRegionCasesLatestYear(regionYearly).collect()
    assert(latest.nonEmpty && latest.length <= 8)
    val cfr = DerivedTables.panelGlobalYearlyCfr(regionYearly).collect()
    assert(cfr.length == 5)
    // NOTE: the reference's panel-6 SQL lags yearly TOTALS as if they were
    // cumulative, so year-over-year "CFR" can leave [0,100] (it's faithfully
    // reproduced, not fixed) — only finiteness is asserted
    val ratios = cfr.flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Double]))
    assert(ratios.forall(r => !r.isNaN && !r.isInfinite))
    val deltas = DerivedTables.panelRegionYearlyDelta(regionYearly, "deaths").collect()
    assert(deltas.length == regionYearly.count())
  }

  test("README derived tables: global last-value totals consistent") {
    val globalTotal = DerivedTables.globalTotalCumulativeCases(covid)
      .collect()(0).getLong(0)
    assert(globalTotal == 777126421L) // golden: Σ per-country last Cumulative_cases
    val stats = DerivedTables.globalStatistics(covid,
      EtlJob.readVaccinationData(spark, s"$referenceDataDir/vaccination-data.csv"))
    assert(stats.count() == 240)
    // Σ per-country last cumulative == the single-row global total
    val sumOfLast = stats.agg(sum("total_cumulative_cases")).collect()(0).getLong(0)
    assert(sumOfLast == globalTotal)
  }

  test("warehouse: register, catalog list, validated scan, json records") {
    graft.Warehouse.register(spark, contractStar)
    val tables = graft.Warehouse.listTables(spark)
    assert(Seq("country", "disease", "vaccine", "weekly_statistics",
      "who_region", "daily_vaccine_statistics").forall(tables.contains))
    assert(graft.Warehouse.tableScan(spark, "country", 10).count() == 10)
    intercept[IllegalArgumentException] {
      graft.Warehouse.tableScan(spark, "nope; DROP TABLE country")
    }
    val json = graft.Warehouse.jsonRecords(contractStar.disease).collect()
    assert(json.sameElements(Array("""{"id":1,"name":"COVID-19"}""")))
  }

  test("owid reader projects the 5 ML columns with typed schema") {
    val tmp = java.nio.file.Files.createTempDirectory("owid").toFile
    val f = new java.io.File(tmp, "owid.csv")
    java.nio.file.Files.writeString(f.toPath,
      "location,date,new_cases,new_tests,people_vaccinated\n" +
        "France,2021-01-01,100,2000,5.0E6\nFrance,2021-01-02,,2100,5.1E6\n")
    val owid = graft.etl.EtlJob.readOwid(spark, f.getAbsolutePath)
    assert(owid.columns.toSeq ==
      Seq("location", "date", "new_cases", "new_tests", "people_vaccinated"))
    val rows = owid.orderBy("date").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(2) == 100.0 && rows(1).isNullAt(2))
    assert(rows(0).getDate(1).toString == "2021-01-01")
  }

  test("country_statistics serving table + panel 10 percent metrics") {
    val population = Seq(("FR", 2023, 68000000L), ("DE", 2023, 83000000L))
      .toDF("country_code", "year", "population")
    val cs = DerivedTables.countryStatistics(star, population).cache()
    assert(cs.count() == 240) // every country kept; population left-joined
    assert(cs.filter($"population".isNotNull).count() == 2)
    val fr = cs.filter($"Country" === "France").collect()(0)
    assert(fr.getAs[Long]("total_cases") > 0L)
    val pct = DerivedTables.panelCountryPercent(cs, "cases").collect()
    assert(pct.length == 2)
    assert(pct.forall(r => r.getDouble(1) > 0 && r.getDouble(1) < 100))
    intercept[IllegalArgumentException] {
      DerivedTables.panelCountryPercent(cs, "nope")
    }
  }

  test("warehouse upsert: updates win on pk, inserts appended, deletes drop") {
    val existing = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    val updates = Seq((2L, "b2", 99), (3L, "c", 30)).toDF("id", "name", "v")
    val merged = graft.Warehouse.upsert(existing, updates, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(merged.toSeq == Seq((1L, "a", 10), (2L, "b2", 99), (3L, "c", 30)))
    val afterDelete = graft.Warehouse.deleteByKey(
      existing, Seq(Tuple1(1L)).toDF("id"), "id").collect()
    assert(afterDelete.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("worldmap + graph intended semantics") {
    val cases = ServingQueries.worldmapCases(agg)
    assert(cases.count() == 240)
    val fr = ServingQueries.graphCountry(star, "FR", "cases").collect()
    assert(fr.length == 261)
    intercept[IllegalArgumentException] {
      ServingQueries.graphCountry(star, "FR", "nope")
    }
  }
}
