package graft.serving

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, struct, to_json, unix_date}

import graft.etl.StarSchema
import graft.queries.ServingQueries.FactAggregates

/** The response bodies of [[Serve]]'s one-country routes, encoded once when
  * the server starts: each country's `weekly_statistics_by_country` array
  * and its `cases`, `deaths` and `vaccinated` `graph/country` bodies
  * (`{"data": […]}`), for every code that has rows. `vaccinated` is the
  * daily-shots series (the reference's mapped columns do not exist; intended
  * semantics per SURVEY.md §1.4).
  */
private[serving] object CountryBodies {
  val ByCountryPath = "/api/weekly_statistics_by_country"
  val GraphPrefix = "/api/graph/country/"

  /** The one parameter each one-country route reads. */
  def param(path: String): String = if (path == ByCountryPath) "country_code" else "country"

  /** Each row of `df` with a country code, as one JSON record per entry of
    * `records` (Spark's own writer, so a record is the line `toJSON` writes
    * for that projection), grouped by code, each group in `date` order, nulls
    * first, as `sortWithinPartitions` orders it. One Spark job.
    */
  private def encoded(df: DataFrame, date: String,
      records: Seq[Seq[Column]]): Map[String, Array[Seq[String]]] =
    df.filter(col("country_short_code").isNotNull)
      .select(col("country_short_code") +: unix_date(col(date)) +:
        records.map(r => to_json(struct(r: _*))): _*)
      .collect()
      .groupBy(_.getString(0))
      .map { case (code, rows) =>
        code -> rows.sortBy(r => Option(r.get(1)).map(_.asInstanceOf[Int]))
          .map(r => records.indices.map(i => r.getString(i + 2)))
      }

  /** The bodies of route `path`, by [[ResponseStore.key]]. */
  private def bodies(path: String, rows: Map[String, Array[Seq[String]]], i: Int,
      envelope: String => String): Map[String, (Int, Array[Byte])] =
    rows.map { case (code, rs) =>
      ResponseStore.key(path, Map(param(path) -> code)) ->
        (200 -> envelope(rs.map(_(i)).mkString("[", ",", "]")).getBytes(StandardCharsets.UTF_8))
    }

  /** Every body, by [[ResponseStore.key]], from the stored weekly join and
    * vaccination fact in two Spark jobs.
    *
    * The weekly join (`agg.weeklyJoined`) left-joins the weekly fact with
    * the country dimension (one row per code) and the weekly vaccinations
    * (one row per code and week), so its `confirmed_cases` and `deaths` are
    * the fact's weekly counts row for row: one projection of it gives the
    * by-country, cases and deaths records. The second job encodes the daily
    * vaccination fact.
    */
  def encode(star: StarSchema, agg: FactAggregates): Map[String, (Int, Array[Byte])] = {
    def graphRecord(date: String, value: String) = Seq(col(date).as("date"), col(value).as("value"))
    val byCountryColumns = agg.weeklyJoined.drop("country_short_code").columns.toSeq.map(col)
    val weekly = encoded(agg.weeklyJoined, "date",
      Seq(byCountryColumns, graphRecord("date", "confirmed_cases"), graphRecord("date", "deaths")))
    val shots = encoded(star.dailyVaccineStatistics, "day_of_report",
      Seq(graphRecord("day_of_report", "new_reported_shots")))
    def data(rows: String) = s"""{"data":$rows}"""
    bodies(ByCountryPath, weekly, 0, identity) ++
      bodies(s"${GraphPrefix}cases", weekly, 1, data) ++
      bodies(s"${GraphPrefix}deaths", weekly, 2, data) ++
      bodies(s"${GraphPrefix}vaccinated", shots, 0, data)
  }
}
