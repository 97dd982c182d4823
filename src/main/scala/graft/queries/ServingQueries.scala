package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.StarSchema

/** The reference's serving layer (≈25 REST endpoints + Grafana panels),
  * re-expressed as pure `DataFrame => DataFrame` functions over the star
  * schema (SURVEY.md §3.2: each Flask route body becomes a function; Spark's
  * analyzer/optimizer replaces Postgres's planner).
  *
  * Broken reference endpoints (SURVEY.md §1.4: columns/tables that do not
  * exist in any DDL) are implemented with their INTENDED semantics against
  * real columns; each such site is marked "intended semantics" below.
  */
object ServingQueries {

  /** The `weekly_vaccinations` CTE shared by the two weekly endpoints
    * (reference: app/routes/data.py:124-132). Keys are EXTRACT(YEAR)+
    * EXTRACT(WEEK) — deliberately NOT the date_trunc week used by the ETL, so
    * ISO week 1 rows can land in the prior calendar year (SURVEY.md §2.8);
    * reproduced exactly for parity.
    */
  def weeklyVaccinations(dailyVaccineStatistics: DataFrame): DataFrame =
    dailyVaccineStatistics
      .groupBy(
        col("country_short_code"),
        year(col("day_of_report")).as("year"),
        weekofyear(col("day_of_report")).as("week"),
      )
      .agg(sum(col("new_reported_shots")).as("total_weekly_vaccinations"))

  /** The fact aggregates the totals, worldmap, top5 and weekly routes read
    * instead of the facts:
    *  - `countryTotals`: per `country_short_code`, `total_cases` and
    *    `total_deaths` summed over the weekly fact;
    *  - `countryNameTotals`: the same per `country_name`, after the inner
    *    join with the country dimension;
    *  - `countryShots`: per `country_short_code`, `total_shots` summed over
    *    the daily vaccine fact;
    *  - `weeklyJoined`: the weekly fact joined with the country dimension
    *    and the weekly routes' CTE, above ([[weeklyJoined]]).
    *
    * Every summed column is an integer type (`week_new_reported_*` int,
    * `new_reported_shots` long), so a sum of these partial sums has the
    * same value, type and nulls as the sum over the fact itself.
    */
  final case class FactAggregates(
      countryTotals: DataFrame,
      countryNameTotals: DataFrame,
      countryShots: DataFrame,
      weeklyJoined: DataFrame,
  )

  /** Defines the [[FactAggregates]] over `star`, passing each through `keep`
    * as it is defined: the identity leaves them as lazy lineage;
    * [[StarSchema.stored]] computes each once, and `countryNameTotals` is
    * then derived from the stored `countryTotals`.
    */
  def factAggregates(star: StarSchema,
      keep: DataFrame => DataFrame = identity): FactAggregates = {
    val perCountry = keep(star.weeklyStatistics
      .groupBy("country_short_code")
      .agg(
        sum("week_new_reported_cases").as("total_cases"),
        sum("week_new_reported_deaths").as("total_deaths"),
      ))
    FactAggregates(
      countryTotals = perCountry,
      countryNameTotals = keep(perCountry
        .join(broadcast(star.country), Seq("country_short_code"))
        .groupBy("country_name")
        .agg(sum("total_cases").as("total_cases"), sum("total_deaths").as("total_deaths"))),
      countryShots = keep(star.dailyVaccineStatistics
        .groupBy("country_short_code")
        .agg(sum("new_reported_shots").as("total_shots"))),
      weeklyJoined = keep(weeklyJoined(star, weeklyVaccinations(star.dailyVaccineStatistics))),
    )
  }

  /** Core weekly join (reference: app/routes/data.py:133-146): fact ⋈ country
    * dim ⋈ weekly-vaccinations CTE on computed keys.
    *
    * The CTE is broadcast: it has at most one row per country and week, but
    * a stored copy keeps its lineage's size estimate (225 GiB for a few
    * hundred rows on `perfbench`'s WHO fixture), so unhinted the planner
    * shuffles the fact for a sort-merge join on every request.
    */
  def weeklyJoined(star: StarSchema, weeklyVaccinations: DataFrame): DataFrame = {
    val ws = star.weeklyStatistics
    val wv = weeklyVaccinations.withColumnRenamed("country_short_code", "wv_code")
    ws
      .join(broadcast(star.country), Seq("country_short_code"), "left")
      .join(
        broadcast(wv),
        ws("country_short_code") === wv("wv_code") &&
          year(ws("date_of_report")) === wv("year") &&
          weekofyear(ws("date_of_report")) === wv("week"),
        "left",
      )
      .select(
        ws("date_of_report").as("date"),
        col("country_name").as("country"),
        col("week_new_reported_cases").as("confirmed_cases"),
        col("week_new_reported_deaths").as("deaths"),
        col("total_weekly_vaccinations").as("vaccinations"),
        ws("country_short_code").as("country_short_code"),
      )
  }

  /** GET /weekly_statistics_total — paginated weekly stats
    * (reference: app/routes/data.py:108-178). One ordered plan serves the
    * page; `totalRows` for the page-count envelope is the fact's row count
    * ([[weeklyStatisticsTotalRows]]), which the server counts once.
    */
  def weeklyStatisticsTotal(star: StarSchema, agg: FactAggregates,
      page: Int, limit: Int): DataFrame =
    agg.weeklyJoined
      .drop("country_short_code")
      .orderBy(col("country").asc_nulls_last, col("date"))
      .offset((page - 1) * limit)
      .limit(limit)

  /** The page over a lineage star, its aggregates unstored (for callers
    * that hold only a star, such as `perfbench`'s in-process spans). */
  def weeklyStatisticsTotal(star: StarSchema, page: Int, limit: Int): DataFrame =
    weeklyStatisticsTotal(star, factAggregates(star), page, limit)

  def weeklyStatisticsTotalRows(star: StarSchema): Long = star.weeklyStatistics.count()

  /** GET /weekly_statistics_by_country (reference: app/routes/data.py:180-214),
    * ordered by date like the reference's `ORDER BY`.
    *
    * One country's rows are sorted in one partition, not range-partitioned
    * by an `orderBy`: over the stored weekly join that is one Spark job with
    * no exchange. Its one task scans the whole stored in-memory join (240
    * countries × 261 weeks on the reference's data) and sorts at most one
    * country's weeks.
    */
  def weeklyStatisticsByCountry(star: StarSchema, agg: FactAggregates,
      countryCode: String): DataFrame =
    oneCountrySorted(agg.weeklyJoined.filter(col("country_short_code") === lit(countryCode))
      .drop("country_short_code"))

  /** `rows`, one country's series, sorted by `date` in a single partition. */
  private def oneCountrySorted(rows: DataFrame): DataFrame =
    rows.coalesce(1).sortWithinPartitions("date")

  /** GET /total_cases, /total_deaths, /total_vaccines
    * (reference: app/routes/data.py:93-106). */
  def totalCases(agg: FactAggregates): DataFrame =
    agg.countryTotals.agg(sum("total_cases").as("total_weekly_cases"))

  def totalDeaths(agg: FactAggregates): DataFrame =
    agg.countryTotals.agg(sum("total_deaths").as("total_weekly_deaths"))

  def totalVaccines(agg: FactAggregates): DataFrame =
    agg.countryShots.agg(sum("total_shots").as("total_reported_shots"))

  /** GET /covid_cases_evolution (reference: app/routes/data.py:216-227):
    * per-date global total, disease-filtered through the 1-row dim (J5). */
  def covidCasesEvolution(star: StarSchema): DataFrame =
    star.weeklyStatistics
      .join(broadcast(star.disease), star.weeklyStatistics("disease_id") === star.disease("id"))
      .filter(col("name") === "COVID-19")
      .groupBy(col("date_of_report").as("date"))
      .agg(sum("week_new_reported_cases").as("total_cases"))
      .orderBy("date")

  /** GET /vaccinations_evolution (reference: app/routes/data.py:236-245). */
  def vaccinationsEvolution(star: StarSchema): DataFrame =
    star.dailyVaccineStatistics
      .groupBy(col("day_of_report").as("date"))
      .agg(sum("new_reported_shots").as("total_daily_vaccinations"))
      .orderBy("date")

  /** GET /top5_summary (reference: app/routes/data.py:271-298) — O2 top-k.
    * Country name added as tiebreaker: Postgres LIMIT ties are arbitrary,
    * a distributed engine must pick deterministically.
    */
  def top5Deaths(agg: FactAggregates): DataFrame = top5(agg, "total_deaths")

  def top5Cases(agg: FactAggregates): DataFrame = top5(agg, "total_cases")

  /** The two lists over a lineage star, its aggregates unstored (for
    * callers that hold only a star, such as `perfbench`'s in-process spans). */
  def top5Deaths(star: StarSchema): DataFrame = top5Deaths(factAggregates(star))

  def top5Cases(star: StarSchema): DataFrame = top5Cases(factAggregates(star))

  private def top5(agg: FactAggregates, total: String): DataFrame =
    agg.countryNameTotals
      .select(col("country_name"), col(total))
      .orderBy(col(total).desc, col("country_name"))
      .limit(5)

  /** GET /country_covid_rates (reference: app/routes/data.py:331-364).
    * `population(country_code, year, population)` is the table the reference
    * joins but never creates (§1.4) — taken as an input here. DISTINCT ON
    * (latest population per country) becomes max_by; ROUND(::DECIMAL, n)
    * maps to decimal round (F12).
    */
  def countryCovidRates(star: StarSchema, population: DataFrame): DataFrame = {
    val totals = star.weeklyStatistics
      .join(broadcast(star.disease), star.weeklyStatistics("disease_id") === star.disease("id"))
      .filter(col("name") === "COVID-19")
      .groupBy("country_short_code")
      .agg(
        sum("week_new_reported_cases").as("total_cases"),
        sum("week_new_reported_deaths").as("total_deaths"),
      )
    val latestPop = population
      .groupBy(col("country_code"))
      .agg(max_by(col("population"), struct(col("year"), col("population"))).as("population"))
    totals
      .join(broadcast(star.country), Seq("country_short_code"))
      .join(latestPop, totals("country_short_code") === latestPop("country_code"))
      .filter(col("population") > 0)
      .select(
        col("country_short_code").as("country_code"),
        col("country_name"),
        col("total_cases"),
        col("total_deaths"),
        col("population"),
        round(col("total_cases").cast(DecimalType(28, 10)) / col("population") * 100, 2)
          .as("case_rate_percent"),
        round(col("total_deaths").cast(DecimalType(28, 10)) / col("population") * 100, 4)
          .as("death_rate_percent"),
      )
      .orderBy(col("case_rate_percent").desc, col("country_code"))
  }

  /** GET /worldmap/{cases,deaths} — intended semantics (the reference sums
    * columns that don't exist on daily_vaccine_statistics,
    * app/routes/worldmap.py:12-16): per-country totals from the weekly fact.
    */
  def worldmapCases(agg: FactAggregates): DataFrame =
    agg.countryTotals.select(col("country_short_code").as("country"), col("total_cases").as("value"))

  def worldmapDeaths(agg: FactAggregates): DataFrame =
    agg.countryTotals.select(col("country_short_code").as("country"), col("total_deaths").as("value"))

  /** GET /worldmap/vaccinated — intended: total shots per country. */
  def worldmapVaccinated(agg: FactAggregates): DataFrame =
    agg.countryShots.select(col("country_short_code").as("country"), col("total_shots").as("value"))

  /** GET /graph/country/<metric> — intended semantics (reference maps
    * metrics to nonexistent columns, app/routes/graph.py:10-14): per-country
    * time series of a real metric, ordered by date.
    *
    * Sorted in one partition like [[weeklyStatisticsByCountry]]: over the
    * stored star, one job whose one task scans the stored in-memory fact.
    */
  def graphCountry(star: StarSchema, countryCode: String, metric: String): DataFrame =
    metric match {
      case "vaccinations" =>
        oneCountrySorted(star.dailyVaccineStatistics
          .filter(col("country_short_code") === lit(countryCode))
          .select(col("day_of_report").as("date"), col("new_reported_shots").as("value")))
      case "cases" | "deaths" =>
        val c = if (metric == "cases") "week_new_reported_cases" else "week_new_reported_deaths"
        oneCountrySorted(star.weeklyStatistics
          .filter(col("country_short_code") === lit(countryCode))
          .select(col("date_of_report").as("date"), col(c).as("value")))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
}

/** The README-declared derived tables (reference: README.md:1-33) and the
  * Grafana panel queries over region_yearly_summary
  * (reference: app/grafana/Dashboard.json panels 1/3/4/6/7).
  */
object DerivedTables {

  /** Region-yearly summary = the region_yearly_summary serving table
    * (reference: app/sql/region_yearly_summary.sql + README.md:27-33),
    * derived from the raw WHO fact. `Year_ts` is Jan-1 of the year (used as
    * the Grafana time axis).
    */
  def covidRegionYearlySummary(covid: DataFrame): DataFrame =
    covid
      .groupBy(col("WHO_region"), year(col("Date_reported")).as("Year"))
      .agg(
        sum("New_cases").as("total_new_cases"),
        sum("New_deaths").as("total_new_deaths"),
      )
      .withColumn("Year_ts", to_timestamp(concat(col("Year"), lit("-01-01"))))

  /** covid_global_yearly_summary (reference: README.md:16-24): yearly sums +
    * CFR = deaths/cases × 100 (ratio of sums, not avg of ratios).
    */
  def covidGlobalYearlySummary(covid: DataFrame): DataFrame =
    covid
      .groupBy(year(col("Date_reported")).as("Year"))
      .agg(
        sum("New_cases").as("total_new_cases"),
        sum("New_deaths").as("total_new_deaths"),
        sum("Cumulative_cases").as("total_cumulative_cases"),
        sum("Cumulative_deaths").as("total_cumulative_deaths"),
      )
      .withColumn("CFR",
        col("total_cumulative_deaths").cast("double")
          / nullif(col("total_cumulative_cases"), lit(0)) * 100)
      .withColumn("Year_ts", to_timestamp(concat(col("Year"), lit("-01-01"))))
      .orderBy("Year")

  /** global_total_cumulative_cases (reference: README.md:1-3): Σ over
    * countries of each country's LAST Cumulative_cases — A9 last-value-
    * per-group via max_by, then a grand total.
    */
  def globalTotalCumulativeCases(covid: DataFrame): DataFrame =
    covid
      .groupBy("Country_code")
      .agg(max_by(col("Cumulative_cases"), col("Date_reported")).as("last_cumulative"))
      .agg(sum("last_cumulative").as("global_total_cumulative_cases"))

  /** global_statistics (reference: README.md:6-13): per-country averages of
    * the cumulative vaccination levels + daily-new averages + last cumulative
    * cases. Vaccination columns come from the snapshot table (one row per
    * country in the committed data, so avg == the value).
    */
  def globalStatistics(covid: DataFrame, vaccinationData: DataFrame): DataFrame = {
    val perCountry = covid
      .groupBy(col("Country").as("country_name"))
      .agg(
        avg("New_cases").as("avg_new_cases"),
        avg("New_deaths").as("avg_new_deaths"),
        max_by(col("Cumulative_cases"), col("Date_reported")).as("total_cumulative_cases"),
      )
    val vaccAvg = vaccinationData
      .groupBy(lower(trim(col("COUNTRY"))).as("country_key"))
      .agg(
        avg("PERSONS_VACCINATED_1PLUS_DOSE").as("total_cumulative_people_vaccinated"),
        avg("PERSONS_LAST_DOSE").as("total_cumulative_people_fully_vaccinated"),
      )
    perCountry
      .join(vaccAvg, lower(trim(col("country_name"))) === col("country_key"), "left")
      .select(
        col("country_name").as("Country"),
        col("total_cumulative_people_vaccinated"),
        col("total_cumulative_people_fully_vaccinated"),
        col("avg_new_cases"),
        col("avg_new_deaths"),
        col("total_cumulative_cases"),
      )
      .orderBy("Country")
  }

  /** country_statistics — the CRUD-maintained serving table (reference DDL:
    * app/sql/country_statistics.sql, ORM api/api_crud.py:23-35), derived
    * here from the star schema + a population input instead of manual
    * upserts: Country PK, total_cases, total_vaccinated, population.
    */
  def countryStatistics(star: StarSchema, population: DataFrame): DataFrame = {
    val cases = star.weeklyStatistics
      .groupBy(col("country_short_code"))
      .agg(sum("week_new_reported_cases").as("total_cases"))
    val shots = star.dailyVaccineStatistics
      .groupBy(col("country_short_code"))
      .agg(sum("new_reported_shots").as("total_vaccinated"))
    val latestPop = population
      .groupBy(col("country_code"))
      .agg(max_by(col("population"), struct(col("year"), col("population"))).as("population"))
    cases
      .join(broadcast(star.country), Seq("country_short_code"))
      .join(shots, Seq("country_short_code"), "left")
      .join(latestPop, cases("country_short_code") === latestPop("country_code"), "left")
      .select(
        col("country_name").as("Country"),
        col("total_cases"),
        coalesce(col("total_vaccinated"), lit(0L)).as("total_vaccinated"),
        col("population"),
      )
      .orderBy("Country")
  }

  /** Grafana panel 10 over country_statistics: percent-of-population
    * metrics (`(total::float / population) * 100`, population non-null).
    */
  def panelCountryPercent(countryStats: DataFrame, measure: String): DataFrame = {
    val m = measure match {
      case "cases"      => "total_cases"
      case "vaccinated" => "total_vaccinated"
      case other        => throw new IllegalArgumentException(s"unknown measure: $other")
    }
    countryStats
      .filter(col("population").isNotNull)
      .select(col("Country"),
        (col(m).cast("double") / col("population") * 100).as(s"${measure}_percent"))
      .orderBy("Country")
  }

  // ---- Grafana panels over region_yearly_summary ----------------------

  /** Panel 7: per-region cases at the latest year (scalar subquery A7). */
  def panelRegionCasesLatestYear(regionYearly: DataFrame): DataFrame = {
    val maxYear = regionYearly.agg(max(col("Year")).as("max_year"))
    regionYearly
      .join(broadcast(maxYear), col("Year") === col("max_year"))
      .select(col("WHO_region"), col("total_new_cases").as("total_covid_cases"))
      .orderBy("WHO_region")
      .limit(50)
  }

  /** Panel 1: global total at the latest year. */
  def panelGlobalCasesLatestYear(regionYearly: DataFrame): DataFrame = {
    val maxYear = regionYearly.agg(max(col("Year")).as("max_year"))
    regionYearly
      .join(broadcast(maxYear), col("Year") === col("max_year"))
      .agg(sum("total_new_cases").as("total_covid_cases"))
  }

  /** Panel 6: yearly global CFR from year-over-year deltas (W3 global lag +
    * F9/F10 COALESCE/NULLIF guards). The lag window is a single partition by
    * construction — acceptable because the input is already one row per
    * (region, year) ≤ a few hundred rows, NOT the raw fact.
    */
  def panelGlobalYearlyCfr(
      regionYearly: DataFrame,
      from: Option[java.sql.Timestamp] = None,
      to: Option[java.sql.Timestamp] = None,
  ): DataFrame = {
    val timeFiltered = (from, to) match { // $__timeFilter macro → between
      case (Some(f), Some(t)) => regionYearly.filter(col("Year_ts").between(f, t))
      case _                  => regionYearly
    }
    val yearly = timeFiltered
      .groupBy(col("Year_ts"))
      .agg(
        sum("total_new_deaths").as("cumulative_deaths"),
        sum("total_new_cases").as("cumulative_cases"),
      )
    val w = Window.orderBy(col("Year_ts")) // ≤ 5 rows: one per year
    yearly
      .withColumn("previous_deaths", lag(col("cumulative_deaths"), 1).over(w))
      .withColumn("previous_cases", lag(col("cumulative_cases"), 1).over(w))
      .select(
        col("Year_ts").as("time"),
        ((col("cumulative_deaths") - coalesce(col("previous_deaths"), lit(0))).cast("double")
          / nullif(col("cumulative_cases") - coalesce(col("previous_cases"), lit(0)), lit(0))
          * 100).as("case_fatality_ratio_pct"),
      )
      .orderBy("time")
  }

  /** Panels 3/4: per-region year-over-year delta (W4 partitioned lag). */
  def panelRegionYearlyDelta(regionYearly: DataFrame, measure: String): DataFrame = {
    val m = measure match {
      case "cases"  => "total_new_cases"
      case "deaths" => "total_new_deaths"
      case other    => throw new IllegalArgumentException(s"unknown measure: $other")
    }
    val w = Window.partitionBy(col("WHO_region")).orderBy(col("Year_ts"))
    regionYearly
      .withColumn("previous_total", lag(col(m), 1).over(w))
      .select(
        col("Year_ts").as("time"),
        col("WHO_region"),
        (col(m) - coalesce(col("previous_total"), lit(0))).as(s"${measure}_yearly"),
      )
      .orderBy(col("time"), col("WHO_region"))
  }
}
